"""Registry-wide physical-plan audit (r7): the leak_scan pattern
applied to plans. For every registry query, parse the "formatted"
explain and report the anti-pattern counters the per-query plan tests
can't cover exhaustively:

- cartesian:      CartesianProduct nodes (always a bug)
- python:         BatchEvalPython / ArrowEvalPython / MapInPandas /
                  FlatMapGroupsInPandas stages (only the declared
                  multimodal decode family may have them)
- global_sort:    Exchange SinglePartition nodes whose PARENT is a
                  Sort — i.e. a true global per-row sort funneling
                  the frame through one task. A SinglePartition
                  exchange feeding a final scalar HashAggregate is
                  the normal two-phase global agg and is NOT counted.
- scans:          parquet scans in the tree (plan-size context)
- exchanges:      shuffle Exchange nodes (broadcasts show up as the
                  join strategy instead)
- one counter per join strategy (SortMergeJoin, BroadcastHashJoin,
  ShuffledHashJoin, BroadcastNestedLoopJoin), so two audit JSONs
  diff as a plan-equivalence check
- tree:           the tree's node names in order — the operator-tree
                  signature, so two audits also diff a node that
                  moved without changing any counter (an aggregate
                  pushed below a join)
- oracle_md5:     md5 of the query's ORACLES string (null for a
                  rows-only query), so one diff of two audits checks
                  plan identity and oracle identity together

Counting happens in the TREE section only (blocks[0] — "formatted"
repeats every node in the detail blocks); the SinglePartition
attribution maps detail-block arguments back to tree node ids, then
walks indentation upward to the parent node.

Usage:
    python tools/plan_audit.py [out.json]   # env: SPARK_GRAFT_SF_DIR
                                            # (default sf0.001 — audit
                                            # reads plans, not data)

Exit code 1 if any HARD failure (cartesian, undeclared python, or a
global_sort outside GLOBAL_SORT_OK) is found; the JSON report always
lands so rounds can diff counters.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Arrow-batched Python is the op itself here (multimodal decode).
PYTHON_OK = {
    "multimodal_meta",
    "multimodal_frames",
    "binary_ingest",
    "image_dedup_dhash",
    "audio_dedup_energy",
}

# Documented bounded-frame global sorts: every entry must name a frame
# whose size is DIMENSION- or SPAN-bounded (never corpus-bounded) in
# its query docstring (a SQL-defined query: its comment). A new
# offender means either add that argument and list it here, or fix
# the plan.
GLOBAL_SORT_OK = {
    # distinct-revenue-value frame (dimension-bounded)
    "revenue_gini",
    # span²-bounded pair frame (343 weeks -> ~59k rows at ANY corpus)
    "theil_sen_trend",
    # aggregated part-revenue frame (dimension-bounded)
    "revenue_concentration",
    # block prefix-sum over the aggregated block frame (two-level scan)
    "sequence_packing",
    # waterfilling windows over the ~source-count-sized totals frame
    "token_budget_mixture",
    # vocab-coverage cumsum over the distinct-token df frame
    "vocab_coverage",
    # rank-block cumsum over the distinct-cents-value frame
    "mann_whitney_u",
    # survival cumsum over the distinct-degree frame
    "degree_distribution",
    # empirical-CDF cumsum over the distinct-cents frame
    "ks_test",
    # two midrank cumsums over distinct-value frames
    "spearman_rho",
    # prefix sums over the span-bounded week frame (343 rows)
    "changepoint_detection",
    # rank-block cumsum over the distinct-cents-value frame (the
    # mann_whitney trick, k-group form)
    "kruskal_wallis",
    # rank-sum AUC over the same distinct-cents frame
    "auc_score",
    # signed-rank cumsum over the distinct-|d| frame (user-bounded)
    "wilcoxon_signed_rank",
    # r8: feature_binning and rfm_segmentation left this list — their
    # NTILEs are now scored map-only against ntile_boundary_values
    # literals (zero global sorts; the r7 verdict's ask)
}

# a tree line: indentation and edge/codegen marks, the node name, its id
NODE = re.compile(r"[\s:+\-*]*([A-Za-z][\w ]*?)\s*\(\d+\)")

JOIN_STRATEGIES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)


def audit_plan(plan: str) -> dict:
    blocks = plan.split("\n\n")
    tree = blocks[0]
    # detail-block node ids whose Exchange argument is SinglePartition
    sp_ids = set()
    for b in blocks[1:]:
        m = re.match(r"\((\d+)\) Exchange\b", b.strip())
        if m and "SinglePartition" in b:
            sp_ids.add(m.group(1))
    # walk the tree: for each SinglePartition exchange, find the parent
    global_sorts = 0
    lines = tree.splitlines()
    for i, ln in enumerate(lines):
        m = re.search(r"Exchange \((\d+)\)", ln)
        if not m or m.group(1) not in sp_ids:
            continue
        indent = len(ln) - len(ln.lstrip(" :+-"))
        parent = ""
        for j in range(i - 1, -1, -1):
            pj = lines[j]
            pind = len(pj) - len(pj.lstrip(" :+-"))
            if pind < indent and re.search(r"\w+ \(\d+\)", pj):
                parent = re.search(r"(\w+) \(\d+\)", pj).group(1)
                break
        if parent == "Sort":
            global_sorts += 1
    return {
        "cartesian": tree.count("CartesianProduct"),
        "python": sum(
            tree.count(m)
            for m in (
                "BatchEvalPython",
                "ArrowEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
            )
        ),
        "global_sort": global_sorts,
        "scans": tree.count("Scan parquet"),
        "exchanges": len(re.findall(r"\bExchange \(\d+\)", tree)),
        **{j: len(re.findall(rf"\b{j}\b", tree)) for j in JOIN_STRATEGIES},
        "tree": [
            m.group(1)
            for m in (NODE.match(ln) for ln in lines)
            if m
        ],
    }


def main() -> int:
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import ORACLES, QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/dev/stdout"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    report, hard = {}, []
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        r = audit_plan(plan)
        oracle = ORACLES.get(name)
        r["oracle_md5"] = (
            hashlib.md5(oracle.encode()).hexdigest() if oracle is not None else None
        )
        report[name] = r
        if r["cartesian"]:
            hard.append(f"{name}: CartesianProduct x{r['cartesian']}")
        if r["python"] and name not in PYTHON_OK:
            hard.append(f"{name}: undeclared Python stage x{r['python']}")
        if r["global_sort"] and name not in GLOBAL_SORT_OK:
            hard.append(f"{name}: global SinglePartition sort x{r['global_sort']}")
        spark.catalog.clearCache()

    summary = {
        "n_queries": len(report),
        "hard_failures": hard,
        "global_sort_queries": sorted(
            k for k, v in report.items() if v["global_sort"]
        ),
        "python_queries": sorted(k for k, v in report.items() if v["python"]),
        "queries": report,
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"AUDIT: {len(report)} queries, {len(hard)} hard failures")
    for h in hard:
        print(" ", h)
    return 1 if hard else 0


if __name__ == "__main__":
    raise SystemExit(main())
