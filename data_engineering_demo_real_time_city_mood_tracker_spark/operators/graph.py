"""Iterative graph operator: connected components via min-label
propagation — the clustering step of near-duplicate deduplication
(pairs → dup groups).

This is the one genuinely iterative algorithm in the engine: a driver
loop over DataFrame ops (the GraphX/Pregel pattern), with
``localCheckpoint`` truncating lineage each round so plans don't grow
exponentially. Converges in O(graph diameter) rounds; dup clusters are
shallow (diameter ≤ a few), so 5-10 rounds in practice. Each round is
one shuffle join + one aggregation, all keyed on vertex id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.session import release_after, small_shuffle


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster) for every vertex appearing in ``edges``; cluster =
    min vertex id of the component (deterministic canonical label)."""
    jsc = edges.sparkSession.sparkContext._jsc
    pre_ids = set(jsc.getPersistentRDDs().keys())
    und = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    und = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    # seed label(v) = min(v, neighbors(v)) in ONE aggregation — this IS
    # the first propagation round, fused with vertex extraction (saves
    # a full join round; near-dup pair graphs are clique-heavy, so the
    # loop below usually just confirms the fixed point once).
    labels = (
        und.select(F.col("dst").alias("id"), F.least("src", "dst").alias("label"))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        prop = (
            und.join(labels, und.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        # carry a per-row improvement flag so convergence detection is a
        # scan of the checkpointed frame — no extra join/shuffle job.
        new_labels = (
            labels.join(prop, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.col("nlabel") < F.col("label")).alias("improved"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("improved").limit(1).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    # the result depends only on the final checkpoint; drop the
    # superseded per-iteration blocks (they bypass the SQL cache
    # manager and would otherwise linger in the block manager).
    live = jsc.getPersistentRDDs()
    new_ids = sorted(set(live.keys()) - pre_ids)
    for rid in new_ids[:-1]:
        if rid in live:
            live[rid].unpersist()
    return labels.select("id", F.col("label").alias("cluster"))


def connected_components_star(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Two-phase connected components (alternating large-star /
    small-star, Kiveris et al., "Connected Components in MapReduce and
    Beyond"): converges in O(log² n) rounds REGARDLESS of graph
    diameter, where plain min-label propagation needs O(diameter)
    rounds. Use this for deep/path-shaped graphs (reply chains,
    citation paths); ``connected_components`` stays the cheaper choice
    for the shallow clique-heavy graphs near-dup dedup produces.

    Each phase is one agg + one join, keyed on vertex id:
      large-star: every neighbor v > u re-points to min(N(u) ∪ {u})
      small-star: every neighbor v ≤ u re-points to min(N(u) ∪ {u})
    The edge set monotonically flattens into depth-1 stars rooted at
    each component's min vertex — which IS the final labeling, so no
    separate propagation pass is needed. Convergence is detected by an
    order-insensitive edge-set fingerprint (count + xxhash64 sum);
    lineage is truncated per round with localCheckpoint exactly like
    the propagation variant.
    """
    jsc = edges.sparkSession.sparkContext._jsc
    pre_ids = set(jsc.getPersistentRDDs().keys())

    # directed high→low, no self-loops, deduped
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def fingerprint(df):
        # bit_xor: order-insensitive, overflow-free (ANSI-safe where a
        # sum of hashes would overflow long); edge set is distinct so
        # xor-cancellation of duplicates cannot occur
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(hi, lo))").alias("h"),
        ).first()
        return (row.n, row.h)

    fp = fingerprint(e)
    for _ in range(max_iter):
        # ---- large-star ----
        sym = e.union(e.select(F.col("lo").alias("hi"), F.col("hi").alias("lo")))
        m = sym.groupBy(F.col("hi").alias("u")).agg(
            F.least(F.min("lo"), F.first("hi")).alias("m")
        )
        large = (
            sym.join(m, sym.hi == m.u)
            .filter(F.col("lo") > F.col("hi"))  # neighbors strictly larger than u
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(e)  # edges already high→low are kept by large-star
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # ---- small-star ----
        m2 = large.groupBy(F.col("hi").alias("u")).agg(F.min("lo").alias("m"))
        small = (
            large.join(m2, large.hi == m2.u)
            .select(F.col("lo").alias("node"), F.col("m"))
            .union(m2.select(F.col("u").alias("node"), F.col("m")))
            .filter(F.col("node") != F.col("m"))
            .select(F.col("node").alias("hi"), F.col("m").alias("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_fp = fingerprint(small)
        e = small
        if new_fp == fp:
            break
        fp = new_fp

    labels = e.select(F.col("hi").alias("id"), F.col("lo").alias("cluster")).union(
        e.select(F.col("lo").alias("id"), F.col("lo").alias("cluster"))
    ).groupBy("id").agg(F.min("cluster").alias("cluster"))

    live = jsc.getPersistentRDDs()
    new_ids = sorted(set(live.keys()) - pre_ids)
    for rid in new_ids[:-1]:
        if rid in live:
            live[rid].unpersist()
    return labels


def cooccurrence_edges(
    df: DataFrame,
    id_col: str,
    group_cols: list[str],
    max_group: int | None = None,
) -> DataFrame:
    """Distinct co-participation edges: two ids are connected iff they
    appear in at least one common group (equal values in
    ``group_cols``) — the co-visitation / co-activity graph builder
    (users active on the same (event_type, minute), docs sharing a
    cluster, ...).

    Pair fan-out is bounded per group at n·(n-1)/2, so the one scale
    hazard is a trending group; ``max_group`` drops groups larger than
    the cap BEFORE the self-join (one group-keyed count + semi-join —
    same posture as the dedup family's ``max_df`` hot-shingle cap).
    Emits distinct (id_a, id_b) with id_a < id_b.
    """
    g = df.select(F.col(id_col).alias("id"), *group_cols).distinct()
    if max_group is not None:
        ok = (
            g.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_group)
            .drop("_n")
        )
        g = g.join(ok, group_cols, "left_semi")
    a = g.alias("a")
    b = g.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in group_cols:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    return (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """(u, v) with u < v: each undirected edge once, self-loops
    dropped."""
    return (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def _degrees(e: DataFrame, name: str) -> DataFrame:
    """(id, name): each vertex's degree in the (u, v) edge frame."""
    return (
        e.select(F.explode(F.array("u", "v")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias(name))
    )


def _peel(cur: DataFrame, k: int) -> DataFrame:
    """One k-core peel round: keep the edges whose endpoints both have
    degree >= k in ``cur``."""
    good = _degrees(cur, "d").filter(F.col("d") >= k).select("id")
    return (
        cur.join(good, cur.u == good.id, "left_semi")
        .join(good, F.col("v") == good.id, "left_semi")
        .localCheckpoint(eager=False)
    )


def triangle_counts(
    edges: DataFrame, src_col: str = "id_a", dst_col: str = "id_b"
) -> DataFrame:
    """Per-vertex triangle participation counts via the node-iterator
    with DEGREE ordering (Suri & Vassilvitskii, WWW'11 MapReduce
    pattern): each undirected edge is directed from its lower
    (degree, id) endpoint to the higher, wedges are enumerated only
    over each vertex's OUT-neighbors, and the closing edge is verified
    with one more join.

    Degree ordering is the skew guard that makes this feasible
    distributed: out-degree under the ordering is O(√m) even for a
    degree-d hub, so wedge volume is O(m^{3/2}) total instead of
    Σd² — a star graph generates ZERO wedges at its center. Three
    shuffle joins, all keyed on vertex/edge pairs; no driver loop.
    Emits (id, n_triangles) for every vertex in ≥1 triangle; the
    global triangle count is sum(n_triangles)/3.
    """
    e0 = _undirected(edges, src_col, dst_col)
    deg = _degrees(e0, "d")
    du = deg.alias("du")
    dv = deg.alias("dv")
    a_first = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    # direct low-rank → high-rank, carrying the dst endpoint's degree
    # so the wedge join can compare ranks without another lookup
    dirx = (
        e0.join(du, F.col("u") == F.col("du.id"))
        .join(dv, F.col("v") == F.col("dv.id"))
        .select(
            F.when(a_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(a_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(a_first, F.col("dv.d")).otherwise(F.col("du.d")).alias("ddeg"),
        )
    )
    e1 = dirx.alias("e1")
    e2 = dirx.alias("e2")
    wedge = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            (F.col("e1.ddeg") < F.col("e2.ddeg"))
            | (
                (F.col("e1.ddeg") == F.col("e2.ddeg"))
                & (F.col("e1.dst") < F.col("e2.dst"))
            )
        ),
    ).select(
        F.col("e1.src").alias("x"),
        F.col("e1.dst").alias("y"),
        F.col("e2.dst").alias("z"),
    )
    # shuffle_hash on the closing side (r10, guide §3.1): the closing
    # join's stream side is the WEDGE set (O(m^{3/2}) rows — 210M at
    # sf1), the build side the edge list (m rows). Sort-merge sorted
    # the whole wedge stream for nothing; hashing the per-partition
    # edge slice and streaming the wedges removes both sorts. (y, z)
    # pair keys are near-unique, so no single-key build skew at any
    # scale, and the build side is asymptotically smaller than the
    # stream. Measured at sf1: closing+agg 24.4 s → 7.1 s.
    closing = dirx.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tri = wedge.join(closing.hint("shuffle_hash"), ["y", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every vertex has degree ≥ k — the standard graph-cleaning /
    dense-community primitive (peels ribbons, pendants and sparse fuzz
    off a similarity or interaction graph before community detection).

    Iterative peel (the only way — k-core is not monotone-expressible
    in one pass): each round computes degrees (one vertex-keyed agg)
    and drops edges touching any vertex below ``k`` (two semi-joins
    against the surviving-vertex frame). Rounds are O(peel depth);
    ``localCheckpoint`` keeps lineage flat, persisted rounds release
    their predecessor. Emits (id, core_degree) — each surviving
    vertex's degree WITHIN the core.
    """
    cur = _undirected(edges, src_col, dst_col).localCheckpoint(eager=False)
    n_edges = cur.count()
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        nxt = _peel(cur, k)
        n_next = nxt.count()  # materializes the checkpoint blocks
        cur = nxt  # superseded rounds are ContextCleaner-reclaimed
        if n_next == n_edges or n_next == 0:
            converged = True
        n_edges = n_next
    if not converged:
        # loop exhaustion is NOT a k-core: deep path-shaped graphs peel
        # O(diameter) rounds — surface it instead of silently returning
        # vertices that are in no k-core
        raise RuntimeError(
            f"k_core did not reach a fixpoint in {max_iter} rounds "
            f"({n_edges} edges still peeling) — raise max_iter"
        )
    # cur's checkpoint blocks back the returned frame and are
    # ContextCleaner-reclaimed once the caller drops it
    return _degrees(cur, "core_degree")


def label_propagation(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    rounds: int = 3,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), made DETERMINISTIC: every vertex starts with its own
    id as label, and each round simultaneously adopts the most
    frequent label among its neighbors, ties broken toward the
    SMALLEST label — no RNG, no visit-order dependence, identical
    output on every run and partitioning. A fixed round budget keeps
    the cost bounded (sync LPA can oscillate; for community mining a
    few rounds is the useful regime — this is the cheap, local
    alternative to connected components when dense subgraphs, not mere
    reachability, define the communities).

    Per round: one edge⋈label join (label frame is vertex-sized), one
    (dst, label) count, one per-dst argmax via ``min_by`` over a
    (-count, label) struct — all vertex/edge-keyed shuffles;
    ``localCheckpoint`` truncates lineage. Emits (id, community).
    """
    und = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    und = und.union(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    ).distinct().persist()
    # initial labels = own id; verts is single-use now (no per-round
    # re-join, see below), so it needs no persist of its own
    labels = (
        und.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("label"))
    )
    for _ in range(rounds):
        neigh = (
            und.join(labels, und.src == labels.id)
            .select(F.col("dst").alias("id"), "label")
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax label by (max count, min label) — deterministic.
        # No verts re-join: the graph is symmetrized above, so every
        # vertex appears as a dst and gets neighbor votes — the
        # isolated-vertex coalesce could never fire (the SQL oracle
        # keeps its LEFT JOIN spelling; the results are identical, and
        # the oracle hash row guards that claim every round).
        labels = neigh.groupBy("id").agg(
            F.min_by("label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))).alias(
                "label"
            )
        ).localCheckpoint(eager=False)
    # eager checkpoint (not persist): materializes before und is
    # released and is ContextCleaner-reclaimable — no CacheManager leak
    labels = labels.localCheckpoint(eager=True)
    und.unpersist()
    return labels.select("id", F.col("label").alias("community"))


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    rounds: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """(id, rank_fp) PageRank over the symmetrized graph in FIXED-POINT
    integer arithmetic, so it can be hash-gated.

    Float PageRank can't ride a SQL oracle: the per-vertex inflow sums
    doubles in partition order. Quantizing rank to an integer at
    ``scale`` (1e-12 resolution) makes every step exact and
    order-free: contribution = rank_fp // deg (floor division,
    deterministic on nonnegative BIGINTs), inflow = exact integer SUM,
    update = (15·scale) // (100·n) + (85·inflow) // 100. The rounds
    then unroll into engine-portable CTEs exactly like
    label_propagation's. Symmetrized graphs have no dangling vertices
    (every vertex has out-edges), so the dangling-mass machinery drops
    out entirely.

    Scale shape: per round one vertex-keyed join + one agg, rank frame
    vertex-sized, lineage truncated via localCheckpoint; the single
    driver scalar is n (one count, before the loop)."""
    e0 = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    und = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d")).persist()
    n = deg.count()  # == vertex count: deg has one row per vertex
    spark = edges.sparkSession
    if n == 0:
        # release before the early return — the empty-graph path used
        # to leak deg in the CacheManager (caught by the r6 leak scan
        # at sf0.001, where the co-activity graph IS empty)
        deg.unpersist()
        return spark.createDataFrame([], "id long, rank_fp long")
    tele = (15 * scale) // (100 * n)
    contrib_base = und.join(deg, "src").persist()  # (src, dst, d)
    ranks = deg.select(
        F.col("src").alias("id"), F.lit(scale // n).cast("long").alias("r")
    )
    with small_shuffle(spark, n):
        for _ in range(rounds):
            c = (
                contrib_base.join(
                    ranks.select(F.col("id").alias("src"), "r"), "src"
                )
                .select("dst", F.expr("r div d").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            # no verts re-join: the symmetrized graph gives every
            # vertex inbound edges, so the inflow agg already covers
            # all of verts and the zero-inflow coalesce could never
            # fire (the SQL oracle keeps its LEFT JOIN spelling; the
            # hash row guards the equivalence).
            ranks = c.select(
                F.col("dst").alias("id"),
                (F.lit(tele) + F.expr("(85 * s) div 100")).cast("long").alias("r"),
            ).localCheckpoint(eager=False)
        # eager checkpoint (not persist): materializes before the input
        # unpersists and is ContextCleaner-reclaimable — no leak
        ranks = ranks.localCheckpoint(eager=True)
    deg.unpersist()
    contrib_base.unpersist()
    return ranks.select("id", F.col("r").alias("rank_fp"))


def k_core_rounds(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 4,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Bounded-round k-core peel — the hash-gateable twin of
    :func:`k_core`: exactly ``rounds`` peel rounds (drop vertices with
    degree < k, then their edges), no data-dependent convergence loop,
    so the rounds unroll into portable integer-arithmetic CTEs like
    label_propagation's. When the graph reaches its fixpoint within
    the budget — true for the shallow co-activity/near-dup graphs this
    runs on, asserted in tests — the result IS the k-core (extra
    rounds are no-ops); on deep path-shaped graphs it is the
    documented ``rounds``-bounded peel, and :func:`k_core` (which
    raises on non-convergence rather than lying) is the right tool.
    Emits (id, core_degree) within the surviving subgraph."""
    cur = _undirected(edges, src_col, dst_col)
    for _ in range(rounds):
        cur = _peel(cur, k)
    return _degrees(cur, "core_degree")


def common_neighbor_link_prediction(
    edges: DataFrame,
    k: int = 100,
    max_center_degree: int | str | None = "auto",
    wedges_per_edge: int = 40,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """(id_a, id_b, cn, union_deg, jaccard) — top-k NON-adjacent vertex
    pairs most likely to become edges, scored by neighborhood overlap
    (Liben-Nowell & Kleinberg 2003's link-prediction baselines): cn =
    |N(u)∩N(v)| via wedge enumeration, ranked by the Jaccard variant
    cn / (d(u)+d(v)−cn) whose numerator and denominator stay EXACT
    BIGINTs — the emitted jaccard is one IEEE division of those ints,
    bitwise equal in any engine, and the (jaccard DESC, id_a, id_b)
    order is total so the top-k boundary is deterministic.

    Scale shape: candidate pairs come only from shared neighbors
    (never a vertex cross-join), so the cost is Σ_w d(w)² over wedge
    centers. ``max_center_degree`` excludes superhub centers from
    enumeration — the standard LP guard: a 10⁵-degree hub contributes
    10¹⁰ wedges yet its common-neighbor evidence is the weakest
    (Adamic-Adar's 1/log(d) discount exists for exactly this reason).
    Excluded centers still keep their own edges and degrees; only
    their WEDGES are skipped. One shuffle keyed on the center, one on
    the candidate pair, one anti-join against the edge list, then a
    k-bounded TakeOrdered — no driver loop.

    ``max_center_degree="auto"`` (default since r8) derives the cap
    from the measured degree distribution instead of a fixed number:
    cap = the largest degree whose cumulative wedge volume
    Σ_{v: d(v) ≤ cap} d(v)² stays within ``wedges_per_edge`` ×
    |directed edges| — i.e. enumeration work is budgeted PER EDGE, so
    it scales linearly with the corpus by construction. The r8 A/B
    that forced this: the co-activity graph's degree scale grows
    ~linearly with SF (sf0.1 degrees 12–57, sf1 157–465), so fixed
    256 silently degraded from a no-op into "exclude the top half"
    at 10×, fixed 128 returned ZERO candidates at sf1, and fixed 512
    cost 7.5× the wall for a completely different top-100. The
    distribution is collected driver-side from the distinct-degree
    frame (degree_distribution's boundedness argument) and the cap
    enters the plan as a literal; the SQL oracle derives the SAME
    cap from the same integer cumsum, so the choice is
    hash-portable. Falls back to the minimum degree when even the
    smallest degree class exceeds the budget (never silently empty).

    .. note:: **EXECUTES at call time** (bm25_rank's contract): the
       k-bounded result is eagerly checkpointed so the persisted edge
       list and degree frame release immediately — the returned
       frame's lineage is truncated at a LogicalRDD and further
       composition happens on the k-row result, not a lazy plan.
    """
    # the edge plan feeds sym (×2), the wedge self-join (×2), the
    # anti-join, and both degree lookups — persist it once instead of
    # re-running the co-occurrence builder's distinct+self-join ~7×;
    # the k-bounded result is checkpointed and the cache released on
    # return (CacheManager discipline)
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).persist()
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).select(
        F.col("u").alias("w"), F.col("v").alias("x")
    )
    deg = sym.groupBy("w").agg(F.count(F.lit(1)).alias("d")).persist()
    if max_center_degree == "auto":
        dist = sorted(
            (r["d"], r["c"])
            for r in deg.groupBy("d")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        budget = wedges_per_edge * sum(d * c for d, c in dist)
        cap, cum = (dist[0][0] if dist else 0), 0
        for d, c in dist:
            cum += d * d * c
            if cum > budget:
                break
            cap = d
        max_center_degree = cap
    centers = sym
    if max_center_degree is not None:
        small = deg.filter(F.col("d") <= max_center_degree).select("w")
        centers = sym.join(small, "w", "left_semi")
    # carry each endpoint's degree THROUGH the wedge join (r10, guide
    # §2.4 — the ngram family's carried-sizes idiom): the old plan
    # re-shuffled the PAIR-sized candidate frame twice (by u, then by
    # v) just to attach vertex-sized degrees after the agg — at sf1
    # that was two extra exchanges of 61.8M rows. One vertex-keyed
    # degree join on the edge-sized centers frame replaces both; the
    # degree rides the wedge exchange as 16 bytes/row.
    degx = deg.select(F.col("w").alias("x"), F.col("d").alias("dx"))
    centers = centers.join(degx, "x").select("w", "x", "dx")
    a, b = centers.alias("a"), centers.alias("b")
    # min(du)/min(dv) over a group where they are constant (degree is
    # functionally determined by u/v) — grouping stays on (u, v) alone
    # so the agg's hash partitioning is exactly what the anti-join
    # needs and the exchange is reused (grouping by (u, v, du, dv)
    # would partition on all four and force a re-shuffle).
    cand = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.x") < F.col("b.x")))
        .groupBy(F.col("a.x").alias("u"), F.col("b.x").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.min(F.col("a.dx")).alias("du"),
            F.min(F.col("b.dx")).alias("dv"),
        )
    )
    # shuffle_hash on the edge side (guide §3.1): sort-merge would sort
    # the pair-sized stream; the build side is the edge list, smaller
    # at any scale, and (u, v) keys are unique on it — no build skew.
    nonadj = cand.join(e.hint("shuffle_hash"), ["u", "v"], "left_anti")
    scored = nonadj.select(
        F.col("u").alias("id_a"),
        F.col("v").alias("id_b"),
        F.col("cn").cast("long").alias("cn"),
        (F.col("du") + F.col("dv") - F.col("cn")).cast("long").alias("union_deg"),
        (
            F.col("cn").cast("double")
            / (F.col("du") + F.col("dv") - F.col("cn")).cast("double")
        ).alias("jaccard"),
    )
    out = scored.orderBy(F.col("jaccard").desc(), "id_a", "id_b").limit(k)
    return release_after(out, e, deg)
