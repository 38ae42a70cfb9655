"""City-mood benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. With ``--trace 0`` a run sets up once
untimed, the JVM's cold set-up, then ``host.SETUPS`` times timed (each a
fresh session from ``session.get_spark`` plus the workload's own
set-up), and times passes over the workload until they have taken
``--seconds`` seconds and number at least the workload's ``min_passes``.
A stream pass is a replay and needs a set-up of its own; registry passes
follow an untimed warm-up pass in the same session. The run reports
medians, then checks every output outside the timed region. With
``--trace 1`` it reports the per-layer metrics instead (traced.py).

The last line of standard output is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records host, versions, workload sizes and the raw timings.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json
import os
import shutil
import statistics
import sys
from concurrent.futures import ThreadPoolExecutor

import host
from gen import Shape

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Why each workload exists is recorded in BENCHMARK.json. The reference
# shape (the 4 intersections of the source system) is replayed by the
# traced run of mood_wide, on local[nproc] and on local[1].
MOOD_WIDE = Shape(keys=1024, minutes=10, traffic_per_minute=10000, zipf_s=1.1)
MOOD_REF = Shape(keys=4, minutes=8, traffic_per_minute=2000)
BATCH_SF = "0.1"
# daily_summary, mood_distribution and mood_rollup are left out: on the
# tables the checkout generates they disagree with their oracles (see
# README.md, "Output check"), and a benchmark workload must not fail.
BATCH_QUERIES = [
    # most of their time in execution: scan, shuffle and aggregate
    "minute_agg_traffic", "mood_pipeline", "quality_filter",
    "pricing_summary", "dedup_containment",
    # construction-bound: eager jobs run while the plan is built
    "label_propagation",
]


def make_workload(name: str, seed: int, work: str, work_root: str):
    if name == "mood_wide":
        from mood import MoodReplay

        return MoodReplay(name, MOOD_WIDE, seed, work)
    if name == "batch_mix":
        from batch import Registry, ensure_tables

        sf_dir = ensure_tables(ROOT, os.path.join(work_root, "data"), BATCH_SF)
        return Registry(name, BATCH_QUERIES, seed, sf_dir, work)
    raise SystemExit(f"unknown workload {name!r}; one of mood_wide, batch_mix")


def measure(wl, spark, seconds: float, meta: dict) -> dict:
    """The end-to-end metrics, tracing off."""
    setups: list[float] = []
    runs: list[tuple[float, list[float], float]] = []
    try:
        meta.update(host.versions(spark))
        before = host.control(spark)
        _, spark = host.setup(wl, spark, 0)  # the JVM's first set-up is cold: untimed
        for rep in range(1, host.SETUPS + 1):
            wl.discard()
            s, spark = host.setup(wl, spark, rep)
            setups.append(s)
        if wl.kind == "batch":
            wl.run(spark)  # warm-up pass in the measured session; its outputs are checked too
        while True:
            t = time.perf_counter()
            wl.run(spark)
            run_s = time.perf_counter() - t
            samples, rate = host.pass_samples(wl, run_s)
            runs.append((run_s, samples, rate))
            meta.setdefault("samples_ms", []).append(samples)
            if wl.kind == "batch":
                meta.setdefault("op_ms", []).append(wl.op_ms)
            if len(runs) >= wl.min_passes and sum(r[0] for r in runs) >= seconds:
                break
            if wl.kind == "stream":  # a replay needs a query of its own
                s, spark = host.setup(wl, spark, len(setups) + 1)
                setups.append(s)
        after = host.control(spark)
    finally:
        wl.discard()
        spark.stop()
    samples = [x for r in runs for x in r[1]]
    meta.update(
        setup_s=setups, run_s=[r[0] for r in runs],
        control_s={"before": before, "after": after},
    )
    return {
        "setup_s": (statistics.median(setups), "s"),
        "run_s": (statistics.median(r[0] for r in runs), "s"),
        "events_per_s": (statistics.median(r[2] for r in runs), "events/s"),
        "batch_p50_ms": (host.pct(samples, 50), "ms"),
        "batch_p80_ms": (host.pct(samples, 80), "ms"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="City-mood benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, host.PKG, "session.py")):
        print(f"perfbench: no {host.PKG} package beside perfbench/; run it from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    wl = make_workload(args.workload, args.seed, work, work_root)
    meta: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        host.set_env(work)
        t = time.perf_counter()
        with ThreadPoolExecutor(max_workers=1) as pool:
            inputs = pool.submit(wl.prepare)  # the generator runs while the JVM starts
            spark = host.session()
            inputs.result()
        meta["start_s"] = time.perf_counter() - t
        if args.trace:
            from traced import traced_run

            ref = None
            if wl.kind == "stream":
                from mood import MoodReplay

                ref = MoodReplay("mood_ref", MOOD_REF, args.seed, os.path.join(work, "ref"))
                ref.prepare()
            metrics = traced_run(wl, ref, spark, meta)
        else:
            metrics = measure(wl, spark, args.seconds, meta)
        t = time.perf_counter()
        attempted, failed, bad = wl.check()
        if args.trace and ref is not None:
            a, f, b = ref.check()
            attempted, failed, bad = attempted + a, failed + f, bad + b
        meta["check_s"] = time.perf_counter() - t
    finally:
        host.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics["failed_share"] = (failed / attempted, "ratio")
    meta.update(sizes=wl.sizes(), failed_ops=bad, wall_s=time.perf_counter() - T_START)
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
