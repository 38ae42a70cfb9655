"""Exact distributed quantiles by two-phase selection — no global
sort, no sketch error.

`percentile_approx` (GK sketch) trades error for mergeability, and a
window `percent_rank` needs every group's rows through ONE sorted
partition — the classic single-reducer bottleneck when groups are few
and rows are billions. Two-phase selection (the iterative-narrowing
idea behind Munro & Paterson 1980's multi-pass selection, done in one
histogram pass + one targeted pass) gets the EXACT order statistic
with scale-proof pieces instead:

- phase 1 histograms values into ``n_buckets`` fixed ranges per group:
  a map-side-combining groupBy whose reduce side is ≤ groups ×
  n_buckets rows at ANY corpus size, then a cumulative count over that
  tiny frame locates the bucket containing each target rank.
- phase 2 re-scans ONLY the target buckets (expected n/n_buckets of
  the data per percentile) and row_numbers within them — the sort
  Spark pays is over the thin slice, never the corpus.

Both phases are one scan each; nothing about the plan changes at
100×. Ties are harmless: equal values share a bucket, and whichever
row row_number picks at the target offset carries the same value.
The rank convention is ``floor(p * (n-1))`` 0-indexed — the "lower"
discrete quantile, mirrored literally in the SQL oracle (same IEEE
double multiply + floor, so the hashed output is bitwise portable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TARGET_BUCKET_ROWS = 2_000_000


def _adaptive_n_buckets(df: DataFrame) -> int:
    return max(1024, -(-df.count() // _TARGET_BUCKET_ROWS))


def _group_stats(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(group, n, mn, mx) per group."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(value_col).alias("mn"),
        F.max(value_col).alias("mx"),
    )


def _bucket_histogram(
    df: DataFrame, stats: DataFrame, group_col: str, value_col: str, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """Phase 1 of the two-phase selection: (binned, cum). ``binned`` is
    ``df`` with each row's fixed-width bucket ``_b`` in its group's
    [mn, mx] range; ``cum`` is (group, _b, cnt, cum, cum_prev), the
    per-bucket counts with their cumulative count over the bounded
    groups x n_buckets frame."""
    width = (F.col("mx") - F.col("mn")) / F.lit(n_buckets)
    bucket = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(F.floor((F.col(value_col) - F.col("mn")) / width), F.lit(n_buckets - 1))
        )
        .cast("long")
    )
    binned = df.join(stats, group_col).withColumn("_b", bucket)
    hist = binned.groupBy(group_col, "_b").agg(F.count(F.lit(1)).alias("cnt"))
    cw = (
        Window.partitionBy(group_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(cw)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    return binned, cum


def exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    pcts: list[float],
    n_buckets: int | None = None,
) -> DataFrame:
    """(group, pct, q_value): the exact pct-quantile of ``value_col``
    per group, rank = floor(pct * (n-1)) into the ascending order.

    ``n_buckets`` defaults to ADAPTIVE — ceil(total_rows /
    _TARGET_BUCKET_ROWS), floored at 1024: with a fixed width, phase
    2's per-(group, pct) window sees ~n/n_buckets rows through ONE
    sorted partition, which quietly regrows the single-reducer
    bottleneck the operator exists to avoid (at 10¹¹ rows, fixed 1024
    buckets → 10⁸-row windows). Sizing buckets off a cheap driver-side
    count pins the phase-2 window near ``_TARGET_BUCKET_ROWS``
    regardless of corpus size — the same fixed-parameter-is-a-latent-
    quadratic rule as adaptive_nbits. Bucketing is internal: the
    result (and the SQL oracle) is bucket-count-independent."""
    if n_buckets is None:
        n_buckets = _adaptive_n_buckets(df)
    v = F.col(value_col)
    stats = _group_stats(df, group_col, value_col)
    targets = (
        stats.select(
            group_col,
            "n",
            F.explode(F.array(*[F.lit(float(p)) for p in pcts])).alias("pct"),
        )
        .withColumn("rk", F.floor(F.col("pct") * (F.col("n") - 1)).cast("long"))
    )

    # phase 1: per-(group, bucket) counts — map-side combine bounds the
    # shuffle at groups × n_buckets rows regardless of corpus size;
    # the cumulative window runs over that bounded frame only.
    # no forced broadcast on stats/tb: both are one-row-per-(group[,pct])
    # frames — tiny for dashboard-style groupings but O(groups) by
    # construction, so a forced broadcast becomes a driver OOM at
    # high-cardinality group_col (ADVICE r3). AQE broadcasts them
    # whenever they fit the threshold and shuffles otherwise.
    binned, cum = _bucket_histogram(df, stats, group_col, value_col, n_buckets)

    # locate each target rank's bucket + how many values precede it
    tb = (
        targets.join(cum, group_col)
        .filter((F.col("cum_prev") <= F.col("rk")) & (F.col("rk") < F.col("cum")))
        .select(group_col, "pct", "rk", "_b", "cum_prev")
    )

    # phase 2: only rows in target buckets pay the sort
    w = Window.partitionBy(group_col, "pct").orderBy(value_col)
    return (
        binned.join(tb, [group_col, "_b"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == F.col("rk") - F.col("cum_prev") + 1)
        .select(group_col, "pct", v.alias("q_value"))
    )


def ntile_boundary_values(
    df: DataFrame,
    specs: list[tuple[str, str, int]],
    pos_long_sql: list[str] | None = None,
    target_bucket_rows: int = _TARGET_BUCKET_ROWS,
    max_refine: int = 6,
) -> dict[str, list[tuple]]:
    """EXACT NTILE bucket-start boundary pairs for each ``(value_col,
    key_col, k)`` spec, as driver-side literals: {value_col: ascending
    [(v, key), ...] at the 0-indexed ranks (b-1)*base + min(b-1, rem),
    b = 2..k, of the TOTAL (value_col, key_col) order} — base = n div
    k, rem = n mod k, the remainder-to-earlier-buckets rule Spark and
    DuckDB NTILE share. ``ntile_score_expr`` then scores any row
    MAP-ONLY, so the NTILE consumer's final plan has no global sort
    and no join at all.

    EAGER build contract (bm25's posture, ops/retrieval.py): exactly
    TWO bounded jobs at call time in the common case —

    1. one SHARED histogram pass: every spec's values bucketed by a
       DATA-INDEPENDENT exactly-monotone prefix of the positive-long
       proxy (octave = bit length, then the top 11 bits:
       ``length(bin(v))*2048 + shiftright(v, max(bitlen-11, 0))`` —
       pure integer ops, never a float log), stacked across specs
       into ONE scan + map-side-combined groupBy. No stats round is
       needed at all: the grid exists before the data is seen, and
       n = Σcounts comes out of the same histogram. Driver collect ≤
       occupied buckets ≤ 2048 × 63 octaves per spec (≈130k worst
       case, typically a few thousand) — a meta-collect independent
       of corpus size. Rank→bucket location is a cumsum over that
       collected frame in driver python; the unpartitioned cumsum
       window (Exchange SinglePartition + Sort) a pure-DataFrame
       formulation would need is exactly the plan shape this operator
       exists to remove (r7 verdict on feature_binning /
       rfm_segmentation).
    2. one phase-2 pass over ONLY the target buckets (union of
       per-target thin filters): per-target row_number windows
       hash-partitioned on the target id, ≤ Σ(k-1) rows collected.

    Between 1 and 2, any target bucket holding more than
    ``target_bucket_rows`` rows is narrowed by Munro-Paterson
    iterative refinement: re-histogram JUST that bucket's rows with
    the shift lowered 11 bits (≤2048 sub-buckets), at most
    ``max_refine`` bounded extra jobs — a 2^-66 relative width floor,
    so the loop exists only for pathological value concentrations; at
    bench SFs it never fires (test-asserted). This keeps every
    phase-2 sort partition ≤ ~target_bucket_rows at ANY corpus size
    without a driver-side count: the fixed-parameter-is-a-latent-
    quadratic rule, answered adaptively instead of with a stats job.

    Ties on value break by the unique non-null key INSIDE the target
    bucket only — bucketing depends on value alone, so the
    within-bucket (value, key) sort is the total order's slice. n < k
    degenerates correctly (boundary ranks cap out and select no row;
    rows 0..n-1 land in buckets 1..n, NTILE's assignment).

    ``pos_long_sql[i]`` is a SQL fragment over df's columns that is a
    MONOTONE NON-DECREASING, strictly-positive BIGINT function of
    spec i's value_col (default: the value_col itself). Monotone
    coarsening is enough — equal proxies merely share a bucket (e.g.
    exact cents for a price double). Positivity + non-null are
    ENFORCED (the shared histogram carries min(proxy) per bucket and
    the builder raises on any ≤ 0 — a negative long's 64-char bin()
    would otherwise alias into the 63-bit positive octave and
    silently mis-bin); duplicate value_cols across specs raise (the
    result dict is keyed by value_col). Remaining preconditions:
    key_col unique + non-null, all specs share the value dtype (they
    ride one stacked phase-2 union)."""
    if pos_long_sql is None:
        pos_long_sql = [vc for vc, _kc, _k in specs]
    # the result dict is keyed by value_col: two specs sharing one
    # would silently merge their boundary lists and corrupt every
    # consumer's bucket scores — fail loudly instead (r8 ADVICE).
    vcs = [vc for vc, _kc, _k in specs]
    if len(set(vcs)) != len(vcs):
        raise ValueError(
            f"ntile_boundary_values: duplicate value_col in specs {vcs}; "
            "alias the column so each spec keys its own boundary list"
        )

    def octave_bucket(vsql: str):
        return F.expr(
            f"length(bin({vsql})) * 2048L"
            f" + shiftright({vsql}, greatest(length(bin({vsql})) - 11, 0))"
        )

    # job 1: one stacked histogram over all specs, collected (bounded).
    # The stack carries min(proxy) per bucket too: the strictly-
    # positive-BIGINT precondition on pos_long_sql is ENFORCED here —
    # a negative long's 64-char bin() would alias it into the 63-bit
    # positive octave and silently mis-bin (r8 ADVICE); the min ride
    # costs one extra agg column on the already-bounded shuffle.
    k_specs = len(specs)
    sel = df.select(
        *[octave_bucket(s).alias(f"_b{i}") for i, s in enumerate(pos_long_sql)],
        *[F.expr(s).alias(f"_v{i}") for i, s in enumerate(pos_long_sql)],
    )
    stacked = sel.select(
        F.expr(
            f"stack({k_specs}, "
            + ", ".join(f"{i}, _b{i}, _v{i}" for i in range(k_specs))
            + ") AS (m, _b, _v)"
        )
    )
    hist = (
        stacked.groupBy("m", "_b")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("_v").alias("mn"))
        .collect()
    )
    bad = [r for r in hist if r["mn"] is None or r["mn"] <= 0]
    if bad:
        raise ValueError(
            "ntile_boundary_values: pos_long_sql must be strictly-positive "
            f"non-null BIGINT; spec {bad[0]['m']} saw min proxy {bad[0]['mn']}"
        )
    per_m: dict[int, list[tuple[int, int]]] = {}
    for r in hist:
        per_m.setdefault(r["m"], []).append((r["_b"], r["cnt"]))
    n = sum(c for _b, c in per_m.get(0, []))

    # driver-side cumsum locates each NTILE start rank's bucket; state
    # per target: (spec, filter cond, 0-indexed rank within cond's
    # rows, candidate row count, next refinement shift)
    targets: list[dict] = []
    for i, (_vc, _kc, k) in enumerate(specs):
        base, rem = divmod(n, k)
        rs = sorted({(b - 1) * base + min(b - 1, rem) for b in range(2, k + 1)})
        hs = sorted(per_m.get(i, []))
        cum_prev, hi = 0, 0
        for rk in (r for r in rs if 0 < r < n):
            while hi < len(hs) and cum_prev + hs[hi][1] <= rk:
                cum_prev += hs[hi][1]
                hi += 1
            b = hs[hi][0]
            targets.append(
                {
                    "m": i,
                    "cond": octave_bucket(pos_long_sql[i]) == F.lit(b),
                    "rank": rk - cum_prev,
                    "cnt": hs[hi][1],
                    "shift": max(b // 2048 - 11, 0),
                }
            )
    out: dict[str, list[tuple]] = {vc: [] for vc, _kc, _k in specs}
    if not targets:
        return out

    # Munro-Paterson refinement: narrow any oversized target bucket
    # with an 11-bit-finer sub-histogram (bounded rounds, no-op at
    # sane distributions)
    for _ in range(max_refine):
        over = [
            t
            for t in targets
            if t["cnt"] > target_bucket_rows and t["shift"] > 0
        ]
        if not over:
            break
        parts = []
        for tid, t in enumerate(over):
            s2 = max(t["shift"] - 11, 0)
            vsql = pos_long_sql[t["m"]]
            parts.append(
                df.filter(t["cond"]).select(
                    F.lit(tid).alias("tid"),
                    F.expr(f"shiftright({vsql}, {s2})").alias("_sb"),
                )
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        sub = u.groupBy("tid", "_sb").agg(F.count(F.lit(1)).alias("cnt")).collect()
        per_t: dict[int, list[tuple[int, int]]] = {}
        for r in sub:
            per_t.setdefault(r["tid"], []).append((r["_sb"], r["cnt"]))
        for tid, t in enumerate(over):
            s2 = max(t["shift"] - 11, 0)
            vsql = pos_long_sql[t["m"]]
            hs = sorted(per_t[tid])
            cum_prev, hi = 0, 0
            while hi < len(hs) and cum_prev + hs[hi][1] <= t["rank"]:
                cum_prev += hs[hi][1]
                hi += 1
            t["cond"] = t["cond"] & (
                F.expr(f"shiftright({vsql}, {s2})") == F.lit(hs[hi][0])
            )
            t["rank"] -= cum_prev
            t["cnt"] = hs[hi][1]
            t["shift"] = s2

    # job 2: thin phase-2 — only target-bucket rows pay a sort, the
    # windows are hash-partitioned on the target id
    parts = []
    for tid, t in enumerate(targets):
        vc, kc, _k = specs[t["m"]]
        parts.append(
            df.filter(t["cond"]).select(
                F.lit(tid).alias("tid"),
                F.col(vc).alias("v"),
                F.col(kc).alias("key"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    w = Window.partitionBy("tid").orderBy("v", "key")
    rn_of = {tid: t["rank"] + 1 for tid, t in enumerate(targets)}
    cond = None
    for tid, rn in rn_of.items():
        c = (F.col("tid") == tid) & (F.col("_rn") == rn)
        cond = c if cond is None else cond | c
    brows = (
        u.withColumn("_rn", F.row_number().over(w))
        .filter(cond)
        .select("tid", "v", "key")
        .collect()
    )
    for r in brows:
        out[specs[targets[r["tid"]]["m"]][0]].append((r["v"], r["key"]))
    for vc in out:
        out[vc].sort()
    return out


def ntile_score_expr(bounds: list[tuple], value, key):
    """map-only NTILE bucket from ``ntile_boundary_values`` literals:
    1 + how many bucket-start boundaries precede-or-equal this row in
    the total (value, key) order. A row EQUAL to a boundary pair IS
    that bucket's first row, hence ``>=`` on the key arm. ≤ k-1
    literal comparisons — pure whole-stage-codegen arithmetic."""
    e = F.lit(1)
    for bv, bk in bounds:
        e = e + F.when(
            (value > F.lit(bv)) | ((value == F.lit(bv)) & (key >= F.lit(bk))),
            1,
        ).otherwise(0)
    return e.cast("long")


def conformal_rank_select(
    df: DataFrame,
    group_col: str,
    value_col: str,
    alphas: list[float],
) -> DataFrame:
    """(group, n_calib, alpha, threshold): the split-conformal
    calibration threshold per group — the value at 1-BASED ascending
    rank min(⌈(1−α)(n+1)⌉, n), the rank that makes prediction sets
    cover ≥ 1−α for exchangeable scores (Vovk's split-conformal
    recipe). Same grouped two-phase selection as ``exact_quantiles``
    (histogram → driver-free bucket location → thin phase-2 sort,
    windows hash-partitioned on (group, alpha) — never a global
    sort); only the rank arithmetic differs, and it is one identical
    IEEE multiply + ceil in the SQL oracle. Ties on value are
    harmless for the OUTPUT (any row at the target rank carries the
    same threshold value), so phase 2 orders by value alone even where
    the oracle breaks ties on a key."""
    n_buckets = _adaptive_n_buckets(df)
    v = F.col(value_col)
    stats = _group_stats(df, group_col, value_col)
    targets = stats.select(
        group_col,
        "n",
        "mn",
        "mx",
        F.explode(F.array(*[F.lit(float(a)) for a in alphas])).alias("alpha"),
    ).withColumn(
        "rk",
        F.least(
            F.ceil((F.lit(1.0) - F.col("alpha")) * (F.col("n") + 1)).cast("long"),
            F.col("n"),
        ),
    )
    binned, cum = _bucket_histogram(df, stats, group_col, value_col, n_buckets)
    tb = (
        targets.select(group_col, F.col("n").alias("_nc"), "alpha", "rk")
        .join(cum, group_col)
        .filter((F.col("cum_prev") < F.col("rk")) & (F.col("rk") <= F.col("cum")))
        .select(group_col, "_nc", "alpha", "rk", "_b", "cum_prev")
    )
    w = Window.partitionBy(group_col, "alpha").orderBy(value_col)
    return (
        binned.join(tb, [group_col, "_b"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == F.col("rk") - F.col("cum_prev"))
        .select(
            group_col,
            F.col("_nc").cast("long").alias("n_calib"),
            "alpha",
            v.alias("threshold"),
        )
    )
