"""Property-style invariants (SURVEY.md §5): dedup idempotence, LSH
recall on planted duplicates, as-of join vs a naive per-row oracle.
Small synthetic frames — fast, deterministic.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.operators import dedup, windows


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_idempotent(spark):
    rows = [
        (1, "the quick brown fox"),
        (2, "THE quick   brown fox!"),  # normalizes to same text as 1
        (3, "a different document"),
        (4, "a different document"),
        (5, "unique snowflake"),
    ]
    df = _docs(spark, rows)
    once = dedup.exact_dedup(df, "text", "doc_id")
    assert once.count() == 3
    survivors = df.join(once.select(F.col("keep_id").alias("doc_id")), "doc_id")
    twice = dedup.exact_dedup(survivors, "text", "doc_id")
    assert sorted(r.keep_id for r in twice.collect()) == sorted(
        r.keep_id for r in once.collect()
    )
    assert twice.agg(F.max("dup_count")).first()[0] == 1


def test_minhash_lsh_finds_planted_duplicates(spark):
    base = "pack my box with five dozen liquor jugs and some extra words"
    rows = [(i, f"document number {i} about topic {i % 7} " + "x " * i) for i in range(20)]
    rows += [(100, base), (101, base)]  # identical pair must be a candidate
    df = _docs(spark, rows)
    sig = dedup.minhash_signatures(df, "text", "doc_id", k=3, num_hashes=8)
    cand = dedup._lsh_candidates_from_signatures(sig, bands=4, rows_per_band=2)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (100, 101) in pairs, "identical docs share every band -> must be candidates"
    verified = dedup.minhash_dedup_pairs(
        df, "text", "doc_id", k=3, bands=4, rows_per_band=2, threshold=0.99
    )
    assert {(r.id_a, r.id_b) for r in verified.collect()} >= {(100, 101)}


def test_ngram_jaccard_exact_on_known_pair(spark):
    # doc1 shingles {a b c, b c d}; doc2 shingles {a b c, b c x}
    df = _docs(spark, [(1, "a b c d"), (2, "a b c x")])
    out = dedup.ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.0).collect()
    assert len(out) == 1
    row = out[0]
    assert (row.id_a, row.id_b) == (1, 2)
    assert abs(row.jaccard - 1 / 3) < 1e-12  # |∩|=1, |∪|=3


def test_simhash_identical_docs_equal_hash(spark):
    df = _docs(spark, [(1, "hello world foo bar"), (2, "hello world foo bar"), (3, "entirely other text")])
    out = {r.id: r.simhash for r in dedup.simhash(df, "text", "doc_id").collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < 2**32


def test_asof_join_matches_naive(spark):
    left = spark.createDataFrame(
        [(i, 1, float(i)) for i in range(0, 100, 7)], "event_id long, user_id long, lv double"
    ).select("event_id", "user_id", F.timestamp_seconds(F.col("lv")).alias("ts"), "lv")
    right = spark.createDataFrame(
        [(1, float(i), i * 10.0) for i in range(0, 100, 13)], "user_id long, rv double, temp double"
    ).select("user_id", F.timestamp_seconds(F.col("rv")).alias("ts"), "temp")
    out = windows.asof_join(
        left.select("event_id", "user_id", "ts", "lv"), right, "user_id", "ts", ["temp"]
    )
    got = {r.event_id: r.asof_temp for r in out.collect()}
    # naive: latest right ts <= left ts
    rights = [(i, i * 10.0) for i in range(0, 100, 13)]
    for ev in range(0, 100, 7):
        past = [t for (rt, t) in rights if rt <= ev]
        expect = past[-1] if past else None
        assert got[ev] == expect, f"event {ev}: {got[ev]} != {expect}"


def test_embedding_near_dup_symmetric_threshold(spark):
    rows = [
        (1, [1.0, 0.0, 0.5, 0.1]),
        (2, [1.0, 0.0, 0.5, 0.101]),   # ~identical to 1, same sign pattern
        (3, [0.9, 0.1, -0.4, -0.2]),   # different bucket
        (4, [1.0, 0.0, 0.5, 0.1]),     # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.embedding_near_dup_pairs(df, "embedding", "vec_id", threshold=0.999, nbits=4)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs


def test_lloyd_np_rounds_bitwise_equal_fold_rounds(spark, sf_dir):
    """The numpy Lloyd round (clustering._round_np) must produce
    BITWISE-identical centroids
    and codebooks to the Column-expression rounds on the real
    embeddings — sequential-dim accumulation is the same IEEE op
    sequence as the zip_with/aggregate fold, np.argmin's first-min is
    array_position(array_min), and the floor-quantized int64 partial
    sums are _portable_mean's BIGINT partials. Any divergence here
    would break every trainer's oracle hash downstream."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import kmeans
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    _, c_np = kmeans(emb, "embedding", "vec_id", k=5, max_iter=3, np_rounds=True)
    _, c_fold = kmeans(emb, "embedding", "vec_id", k=5, max_iter=3, np_rounds=False)
    assert c_np == c_fold  # exact float equality, not approx

    b_np = pq.train_pq(emb, "embedding", "vec_id", m=4, ksub=8, max_iter=3,
                       np_rounds=True)
    b_fold = pq.train_pq(emb, "embedding", "vec_id", m=4, ksub=8, max_iter=3,
                         np_rounds=False)
    assert b_np == b_fold


def test_kmeans_deterministic_and_converging(spark, sf_dir):
    """k-means invariants: identical reruns (hash init, no RNG),
    every vector assigned to exactly one of ≤ k clusters, and total
    within-cluster SSE does not increase across Lloyd's iterations."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import (
        assign_clusters,
        kmeans,
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    a1, c1 = kmeans(emb, "embedding", "vec_id", k=4, max_iter=3)
    a2, c2 = kmeans(emb, "embedding", "vec_id", k=4, max_iter=3)
    r1 = {(r.id, r.cluster) for r in a1.collect()}
    r2 = {(r.id, r.cluster) for r in a2.collect()}
    assert r1 == r2, "same input must give identical clusterings"
    assert c1 == c2
    assert len(r1) == n, "every vector assigned exactly once"
    assert len({c for _, c in r1}) <= 4

    def sse(centroids):
        assigned = assign_clusters(emb, "embedding", "vec_id", centroids)
        cents = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
        )
        d = F.zip_with(
            "vec", F.element_at(cents, F.col("cluster") + 1),
            lambda x, y: (x - y) * (x - y),
        )
        return assigned.select(
            F.sum(F.aggregate(d, F.lit(0.0), lambda a, x: a + x)).alias("s")
        ).first().s

    _, c_it1 = kmeans(emb, "embedding", "vec_id", k=4, max_iter=1)
    _, c_it3 = kmeans(emb, "embedding", "vec_id", k=4, max_iter=3)
    assert sse(c_it3) <= sse(c_it1) + 1e-9


def test_prefix_filter_lossless(spark, sf_dir):
    """PPJoin prefix filtering must be LOSSLESS: the prefix-indexed
    join returns exactly the same qualifying pairs as the full
    shared-shingle join, at several thresholds."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    for tau in (0.3, 0.5, 0.8):
        full = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", k=3, threshold=tau
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in dedup.prefix_filter_jaccard_pairs(
                docs, "text", "doc_id", k=3, threshold=tau
            ).collect()
        }
        spark.catalog.clearCache()
        assert pref == full, f"tau={tau}: prefix filter dropped/added pairs"


def test_ivf_trained_recall_vs_brute_force(spark, sf_dir):
    """trained multi-probe IVF must (a) return ≤ k deterministic rows
    per query and (b) reach reasonable top-5 recall vs exact brute
    force on the test corpus."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import similarity
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.corpus_id)
        for r in similarity.brute_force_topk(emb, q, "embedding", "vec_id", k=5).collect()
    }
    approx1 = similarity.ivf_trained_topk(
        emb, q, "embedding", "vec_id", k=5, n_centroids=8, n_probe=2
    ).collect()
    approx2 = similarity.ivf_trained_topk(
        emb, q, "embedding", "vec_id", k=5, n_centroids=8, n_probe=2
    ).collect()
    assert {(r.query_id, r.corpus_id, r.rnk) for r in approx1} == {
        (r.query_id, r.corpus_id, r.rnk) for r in approx2
    }, "trained IVF must be deterministic across runs"
    got = {(r.query_id, r.corpus_id) for r in approx1}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"2-probe recall suspiciously low: {recall}"


def test_hll_error_within_rsd_bound(spark, sf_dir):
    """approx_count_distinct at rsd=0.01 must land within 5×rsd of the
    exact distinct count — quantifying the approximate operator instead
    of just running it. Checked on a small key space (user_id, where
    HLL is exact) and a large one (event_id)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("u_approx"),
        F.countDistinct("user_id").alias("u_exact"),
        F.approx_count_distinct("event_id", 0.01).alias("e_approx"),
        F.countDistinct("event_id").alias("e_exact"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r.u_approx - r.u_exact) / r.u_exact <= 0.05, r
        assert abs(r.e_approx - r.e_exact) / r.e_exact <= 0.05, r


def test_quantile_sketch_rank_error_bound(spark, sf_dir):
    """percentile_approx(accuracy=10000) carries a 1/accuracy rank-error
    guarantee: the empirical rank of each estimate must be within
    eps + discreteness slack of the target quantile."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    phis = [0.5, 0.95, 0.99]
    acc = 10000
    ev = load_table(spark, sf_dir, "events")
    est = {
        r.event_type: r.qs
        for r in ev.groupBy("event_type")
        .agg(F.percentile_approx("value", phis, acc).alias("qs"))
        .collect()
    }
    vals = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for etype, qs in est.items():
        xs = sorted(vals[etype])
        n = len(xs)
        for phi, q in zip(phis, qs):
            rank = sum(1 for x in xs if x <= q) / n
            assert abs(rank - phi) <= 1.0 / acc + 1.5 / n, (
                f"{etype} phi={phi}: est {q} has empirical rank {rank}"
            )


def test_lsh_recall_floor_and_multiprobe_gain(spark, sf_dir):
    """recall@5 of sign-LSH vs brute-force ground truth: the single-
    bucket probe must beat the random-candidate baseline."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import similarity
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.corpus_id)
        for r in similarity.brute_force_topk(emb, q, "embedding", "vec_id", k=5).collect()
    }
    got0 = {
        (r.query_id, r.corpus_id)
        for r in similarity.lsh_ann_topk(
            emb, q, "embedding", "vec_id", k=5, nbits=4
        ).collect()
    }
    r0 = len(got0 & exact) / len(exact)
    # one bucket of 2^4 holds ~1/16 of the corpus; random top-5 picks
    # from that candidate set would land ~1/16 of true neighbors
    assert r0 >= 0.08, f"single-probe recall {r0} below random baseline"


def test_ivf_recall_floor(spark, sf_dir):
    """recall@5 of the seeded-centroid IVF vs brute force — quantified,
    not just smoke-run (the trained variant has its own test)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import similarity
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.corpus_id)
        for r in similarity.brute_force_topk(emb, q, "embedding", "vec_id", k=5).collect()
    }
    got = {
        (r.query_id, r.corpus_id)
        for r in similarity.ivf_topk(
            emb, q, "embedding", "vec_id", k=5, n_centroids=8
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall suspiciously low: {recall}"


def test_sequence_packing_invariants(spark, sf_dir):
    """packing conservation laws: offsets are an exact prefix sum of
    token counts in doc_id order, in-sequence offsets stay inside the
    budget, and boundary crossings equal the chunk-count formula."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES, _PACK_BUDGET

    rows = sorted(
        QUERIES["sequence_packing"](spark, sf_dir).collect(),
        key=lambda r: r.doc_id,
    )
    running = 0
    for r in rows:
        assert r.start_offset == running, f"doc {r.doc_id} offset gap"
        assert 0 <= r.offset_in_seq < _PACK_BUDGET
        assert r.seq_id == r.start_offset // _PACK_BUDGET
        last = r.start_offset + r.n_tok - 1
        assert r.n_boundary_crossings == last // _PACK_BUDGET - r.seq_id
        running += r.n_tok


def test_hll_merge_rollup_properties(spark, sf_dir):
    """mergeable-sketch property: unioning per-day HLL sketches must
    estimate within the sketch error bound of both the one-pass
    sketch and the exact distinct (lgk=14 → rsd ≈ 0.81%, assert 5x
    slack for the tiny-cardinality regime)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES

    rows = QUERIES["hll_merge_rollup"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_exact > 0
        for est in (r.merged_est, r.direct_est):
            assert abs(est - r.n_exact) <= max(1, 0.05 * r.n_exact), (
                f"{r.event_type}: est {est} vs exact {r.n_exact}"
            )


def test_hll_portable_properties(spark, sf_dir):
    """portable HLL (operators/sketches.py): (a) the daily-rollup and
    one-pass estimates are EXACTLY equal (max-merge composes — part of
    the hashed surface, re-asserted here for the local SF too); (b)
    the raw estimate lands within 3 sigma of exact (rsd = 1.04/sqrt(32)
    ~ 18%, so 55% slack — loose by design: m=32 trades accuracy for a
    tie-free raw-branch regime on the test corpus); (c) on a larger
    synthetic key set (5000 distinct ints) the error stays inside the
    same bound, showing the register math isn't tuned to the corpus."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import sketches
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES

    rows = QUERIES["hll_portable_rollup"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.merged_est == r.direct_est, r
        # the raw-estimate accuracy contract only holds above the
        # linear-counting threshold 2.5m (below it the documented raw
        # branch overestimates — no ln(), no correction, by design)
        if r.n_exact >= 2.5 * sketches.HLL_M:
            assert abs(r.direct_est - r.n_exact) <= 0.55 * r.n_exact, r

    big = spark.range(5000).select(F.lit("g").alias("g"), F.col("id"))
    regs = (
        sketches.hll_register_rows(big, ["g"], F.col("id"))
        .groupBy("g", "idx")
        .agg(F.max("rnk").alias("m"))
    )
    est = sketches.hll_estimate_from_registers(regs, ["g"], "est").first().est
    assert abs(est - 5000) <= 0.55 * 5000, est


def test_kcore_rounds_reaches_fixpoint_on_coactivity_graph(spark, sf_dir):
    """the 4-round bounded peel must equal the true (fixpoint) k-core
    on the shared co-activity graph — the claim that lets
    kcore_portable's hash gate stand in for real k-core semantics —
    and on a deep path graph (needs diameter rounds) it must NOT,
    returning the documented bounded peel instead."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import graph as graph_ops
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import _coactivity_edges

    edges = _coactivity_edges(spark, sf_dir)
    bounded = {
        (r.id, r.core_degree)
        for r in graph_ops.k_core_rounds(edges, k=2, rounds=4).collect()
    }
    true_core = {
        (r.id, r.core_degree) for r in graph_ops.k_core(edges, k=2).collect()
    }
    assert bounded == true_core

    # a 12-node path peels one pendant pair per round: 4 rounds leave
    # a (shorter) path, the fixpoint is empty
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    assert graph_ops.k_core(path, k=2).count() == 0
    assert graph_ops.k_core_rounds(path, k=2, rounds=4).count() > 0


def test_audio_dedup_recovers_planted_groups(spark):
    """WAV energy-fingerprint dedup: every (base, variant) pair inside
    a planted group differs in exactly one window and MUST be found
    (pigeonhole losslessness at ≤1); variant-variant pairs differ in
    two windows and must be excluded; no cross-group pairs."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import multimodal

    base = spark.range(30).select(
        F.col("id").alias("media_id"),
        F.expr("id div 3").alias("grp"),
        (F.col("id") % 3).cast("int").alias("var"),
    )
    media = multimodal.synthesize_wav_media(base, "media_id", "grp", "var")
    pairs = multimodal.audio_near_dup_pairs(media, max_diff_windows=1).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    want = set()
    for g in range(10):
        want.add((3 * g, 3 * g + 1))
        want.add((3 * g, 3 * g + 2))
    assert got == want, got.symmetric_difference(want)
    assert all(r.n_diff_windows == 1 for r in pairs)


def _power_iteration(edges, rounds, damping=0.85):
    """Float PageRank over the symmetrized edge list in pure Python:
    the independent reference for the fixed-point operator."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    n = len(nbrs)
    rank = {v: 1.0 / n for v in nbrs}
    for _ in range(rounds):
        rank = {
            v: (1 - damping) / n
            + damping * sum(rank[u] / len(nbrs[u]) for u in nbrs[v])
            for v in nbrs
        }
    return rank


def test_pagerank_fixed_point_tracks_float(spark):
    """the fixed-point operator must agree with a float power iteration
    on a known asymmetric graph (star + tail): same ranking, values
    within the accumulated quantization error (rounds × deg truncations
    at 1e-12 each ≪ 1e-6 relative), and total mass ≈ 1 (teleport
    floor-loss only)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import graph as graph_ops

    # hub 0 connected to 1..5; tail 5-6-7
    pairs = [(0, i) for i in range(1, 6)] + [(5, 6), (6, 7)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    fp = {
        r.id: r.rank_fp / 1e12
        for r in graph_ops.pagerank_fixed_point(edges, rounds=8).collect()
    }
    fl = _power_iteration(pairs, rounds=8)
    assert set(fp) == set(fl)
    for v in fp:
        assert abs(fp[v] - fl[v]) < 1e-6, (v, fp[v], fl[v])
    assert sorted(fp, key=lambda v: (-fp[v], v)) == sorted(
        fl, key=lambda v: (-fl[v], v)
    )
    assert abs(sum(fp.values()) - 1.0) < 1e-6


def test_exact_quantiles_matches_sorted_selection(spark, sf_dir):
    """two-phase selection == naive sort-and-index, on the real table
    AND on an adversarial frame (heavy ties, a 1-row group, a
    constant group — the mx==mn width-0 guard)."""
    import math

    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.quantiles import exact_quantiles
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import load_table

    def naive(rows, pcts):
        out = {}
        by_g = {}
        for g, v in rows:
            by_g.setdefault(g, []).append(v)
        for g, vs in by_g.items():
            vs.sort()
            for p in pcts:
                out[(g, p)] = vs[math.floor(p * (len(vs) - 1))]
        return out

    pcts = [0.5, 0.9, 0.99]
    ev = load_table(spark, sf_dir, "events")
    got = {
        (r[0], r.pct): r.q_value
        for r in exact_quantiles(ev, "event_type", "value", pcts).collect()
    }
    want = naive(
        [(r.event_type, r.value) for r in ev.select("event_type", "value").collect()],
        pcts,
    )
    assert got == want

    adv = spark.createDataFrame(
        [("ties", float(v % 3)) for v in range(100)]
        + [("one", 7.0)]
        + [("const", 5.0)] * 20,
        "g string, v double",
    )
    got = {
        (r.g, r.pct): r.q_value
        for r in exact_quantiles(adv, "g", "v", pcts, n_buckets=8).collect()
    }
    want = naive([(r.g, r.v) for r in adv.collect()], pcts)
    assert got == want


def test_boilerplate_removal_invariants(spark, sf_dir):
    """cut-and-reassemble contract: 0 <= n_removed <= n_segments for
    every doc, and a doc with nothing removed reassembles to EXACTLY
    its original text (slice + position-ordered join is lossless)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES, load_table

    out = {r.doc_id: r for r in QUERIES["boilerplate_removal"](spark, sf_dir).collect()}
    orig = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert set(out) == set(orig)
    for doc_id, r in out.items():
        assert 0 <= r.n_removed <= r.n_segments, r
        if r.n_removed == 0:
            assert r.clean_text == orig[doc_id], doc_id
        else:
            assert len(r.clean_text) < len(orig[doc_id]), doc_id


def test_funnel_and_cohort_conservation(spark, sf_dir):
    """conservation invariants: funnel stage counts partition the user
    base; every user is active on their own cohort day (offset 0)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()

    funnel = {r.funnel_stage: r.n_users for r in QUERIES["funnel_analysis"](spark, sf_dir).collect()}
    assert sum(funnel.values()) == n_users
    assert all(s in (0, 1, 2, 3) for s in funnel)

    cohort = QUERIES["cohort_retention"](spark, sf_dir).collect()
    assert all(r.day_offset >= 0 for r in cohort)
    day0 = sum(r.n_active for r in cohort if r.day_offset == 0)
    assert day0 == n_users


def test_cdc_apply_tombstone_semantics(spark, sf_dir):
    """every surviving key's last op is a non-delete; keys whose final
    event is a tombstone ('error') are absent from the snapshot."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = QUERIES["cdc_apply"](spark, sf_dir).collect()
    got = {r.user_id for r in rows}
    last = {
        r.user_id: r.event_type
        for r in ev.orderBy("ts", "event_id").collect()
    }
    expected = {u for u, t in last.items() if t != "error"}
    assert got == expected
    assert all(r.n_ops > 0 for r in rows)


def test_session_window_event_conservation(spark, sf_dir):
    """native session_window: sessions partition the events (counts sum
    to the table size) and every window spans ≥ the gap."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = QUERIES["session_window_native"](spark, sf_dir).collect()
    assert sum(r.n_events for r in rows) == ev.count()
    for r in rows:
        assert (r.session_end - r.session_start).total_seconds() >= 600


def test_shard_export_covers_corpus(spark, sf_dir):
    """shard sizes sum to the corpus; shard ids are the 16 nibbles."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = QUERIES["shard_export"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert {r.shard for r in rows} <= set(range(16))


def test_dedup_incremental_against_base(spark, sf_dir):
    """survivors are exactly the new-batch docs whose fingerprint is
    absent from the base half."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import fingerprint
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    base_fps = {r.fp for r in docs.filter(F.col("h") >= "8").collect()}
    new_rows = docs.filter(F.col("h") < "8").collect()
    expected = {r.doc_id for r in new_rows if r.fp not in base_fps}
    got = {r.doc_id for r in QUERIES["dedup_incremental"](spark, sf_dir).collect()}
    assert got == expected


def test_semantic_dedup_invariants(spark, sf_dir):
    """purge list is non-empty at the p99 rate target, witnesses are
    keep-min (kept < purged), similarities are valid cosines, and the
    purge set never exceeds the corpus."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    rows = QUERIES["semantic_dedup"](spark, sf_dir).collect()
    assert rows, "p99 rate-targeted cutoff must purge something"
    assert len(rows) < n
    for r in rows:
        assert r.kept_id < r.purge_id
        assert -1.0 - 1e-9 <= r.max_cos <= 1.0 + 1e-9


def test_image_dedup_finds_exactly_planted_groups(spark, sf_dir):
    """every within-group image pair (one-pixel variants, ≤4 dHash bits
    apart) is recovered through band-LSH + Hamming verify, and no
    cross-group pair sneaks in."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    ids = [r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()]
    from collections import Counter

    sizes = Counter(i // 3 for i in ids)
    expected_pairs = sum(s * (s - 1) // 2 for s in sizes.values())
    rows = QUERIES["image_dedup_dhash"](spark, sf_dir).collect()
    assert len(rows) == expected_pairs
    for r in rows:
        assert r.id_a // 3 == r.id_b // 3, f"cross-group pair {r}"
        assert r.hamming <= 4


def test_bloom_dedup_no_false_negatives_and_fold_coverage(spark, sf_dir):
    """bloom gate invariant: every true duplicate is flagged maybe_dup
    (no false negatives — the property that makes the bloom front
    gate safe); stratified_kfold covers all 5 folds and each fold's
    shares sum to 1."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES

    rows = QUERIES["bloom_dedup"](spark, sf_dir).collect()
    assert rows, "probe batch must be non-empty"
    # independent ground truth: exact fingerprint membership computed
    # WITHOUT the bloom filter (the query's own true_dup is defined as
    # maybe_dup AND fp-match, so asserting true_dup ⇒ maybe_dup alone
    # would be vacuous)
    from data_engineering_demo_real_time_city_mood_tracker_spark.functions import text as T
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    corpus_fps = {
        r.fp for r in fps.filter(F.col("doc_id") % 10 != 0).collect()
    }
    truth = {
        r.doc_id: r.fp in corpus_fps
        for r in fps.filter(F.col("doc_id") % 10 == 0).collect()
    }
    assert any(truth.values()) or not any(
        r["true_dup"] for r in rows
    ), "sanity: query reports dups the independent truth does not have"
    for r in rows:
        if truth[r["doc_id"]]:
            assert r["maybe_dup"], f"bloom false negative at doc {r['doc_id']}"
            assert r["true_dup"], f"exact join missed doc {r['doc_id']}"
        if r["true_dup"]:
            assert truth[r["doc_id"]], f"spurious true_dup at doc {r['doc_id']}"

    folds = QUERIES["stratified_kfold"](spark, sf_dir).collect()
    by_fold = {}
    for r in folds:
        by_fold.setdefault(r["fold"], 0.0)
        by_fold[r["fold"]] += r["share"]
    assert set(by_fold) == {0, 1, 2, 3, 4}
    for f, s in by_fold.items():
        assert abs(s - 1.0) < 1e-9, f"fold {f} shares sum to {s}"


def test_persistent_dedup_index_matches_direct_computation(spark, tmp_path):
    """build_dedup_index + query_dedup_index must find exactly the
    cross-corpus pairs that a direct minhash run over corpus ∪ batch
    finds (same bands, same threshold), with exact dups reported as
    kind='exact' and not re-reported as near; appending a batch makes
    it findable by later probes."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import dedup

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    corpus_rows = []
    for i in range(20):
        toks = [words[(i + j) % len(words)] for j in range(12)]
        corpus_rows.append((i, " ".join(toks)))
    batch_rows = [
        (100, corpus_rows[3][1]),                       # exact dup of 3
        (101, corpus_rows[5][1] + " extra trailing"),   # near dup of 5
        (102, "totally unrelated text about nothing at all whatsoever"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    path = str(tmp_path / "dedup_index")

    dedup.build_dedup_index(corpus, "text", "doc_id", path, k=3, bands=4, rows_per_band=2)
    got = dedup.query_dedup_index(spark, path, batch, "text", "doc_id", threshold=0.2)
    rows = got.collect()

    # direct ground truth: minhash pairs over the union, cross-split only
    union = corpus.unionByName(batch)
    pairs = dedup.minhash_dedup_pairs(
        union, "text", "doc_id", k=3, bands=4, rows_per_band=2, threshold=0.2
    ).collect()
    expected = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b)): r.jaccard
        for r in pairs
        if (r.id_a >= 100) != (r.id_b >= 100)
    }
    got_pairs = {(r.doc_id, r.match_id): r.jaccard for r in rows}
    assert set(got_pairs) == set(expected)
    for key, j in got_pairs.items():
        assert abs(j - expected[key]) < 1e-12

    by_kind = {(r.doc_id, r.match_id): r.kind for r in rows}
    assert by_kind[(100, 3)] == "exact"
    assert got_pairs[(100, 3)] == 1.0
    assert by_kind[(101, 5)] == "near"
    assert all(k != 102 for k, _ in got_pairs), "unrelated doc matched"

    # incremental append: the batch joins the standing corpus; a copy
    # of an appended doc must now match it
    dedup.append_dedup_index(batch, "text", "doc_id", path)
    probe2 = spark.createDataFrame(
        [(200, batch_rows[2][1])], "doc_id long, text string"
    )
    got2 = dedup.query_dedup_index(spark, path, probe2, "text", "doc_id", threshold=0.2)
    kinds2 = {(r.doc_id, r.match_id): r.kind for r in got2.collect()}
    assert kinds2.get((200, 102)) == "exact"


def test_dedup_index_probe_broadcast_escape_hatch(spark, tmp_path):
    """A bulk re-crawl batch (every doc exact-duplicates the corpus —
    the adversarial case where exact_pairs grows with the batch, so a
    FORCED broadcast could fail at scale): the static plan keeps the
    un-hinted anti join (no forced broadcast build; AQE may still pick
    one at runtime, but only size-aware) and every batch doc finds its
    exact corpus twin."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import dedup as D

    corpus = spark.createDataFrame(
        [(i, f"shared body text for document {i} alpha beta gamma") for i in range(30)],
        "doc_id long, text string",
    )
    # every batch doc is an exact dup of a corpus doc: exact_pairs is
    # batch-sized
    batch = spark.createDataFrame(
        [(1000 + i, f"shared body text for document {i} alpha beta gamma") for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "dedup_index")
    D.build_dedup_index(corpus, "text", "doc_id", path, k=3, bands=4, rows_per_band=2)

    got = D.query_dedup_index(spark, path, batch, "text", "doc_id", threshold=0.2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin LeftAnti" not in plan
    exact = {(r.doc_id, r.match_id) for r in got.collect() if r.kind == "exact"}
    assert exact == {(1000 + i, i) for i in range(30)}


@pytest.mark.slow  # excluded from the driver-window gate (pytest.ini); run via -m slow
def test_dedup_index_append_crash_replay_repairs(spark, tmp_path):
    """A crash mid-append must be repairable by replaying the batch:
    with only shingles+postings landed (no fingerprints), or only
    fingerprints landed, the replayed batch must NOT match itself —
    so the ingest layer recomputes it as a survivor and re-appends —
    and the duplicate index rows from the re-append must not produce
    duplicate match rows for later probes."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import dedup as D

    corpus = spark.createDataFrame(
        [(i, f"base document number {i} with shared filler words") for i in range(5)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "a fresh incoming document that matches nothing in corpus")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    D.build_dedup_index(corpus, "text", "doc_id", path, k=3, bands=4, rows_per_band=2)

    # simulate crash windows: write each index component alone
    for partial in ("shingles_postings", "fingerprints"):
        import shutil

        p2 = str(tmp_path / f"idx_{partial}")
        shutil.copytree(path, p2)
        if partial == "shingles_postings":
            # append shingles+postings but NOT fingerprints: emulate
            # _index_rows dying before its final write
            arr = D._shingle_arrays(batch, "text", "doc_id", 3)
            arr.write.mode("append").parquet(f"{p2}/shingles")
            sig = arr.select("id", *D._sig_cols(8))
            D._band_signatures(sig, "id", 4, 2).select(
                "band", "sig", "id"
            ).write.mode("append").parquet(f"{p2}/postings")
        else:
            from data_engineering_demo_real_time_city_mood_tracker_spark.functions import text as T
            from pyspark.sql import functions as F

            batch.select(
                F.col("doc_id").alias("id"), T.fingerprint(F.col("text")).alias("fp")
            ).write.mode("append").parquet(f"{p2}/fingerprints")
        # replayed probe: the batch must not match its own partial rows
        got = D.query_dedup_index(spark, p2, batch, "text", "doc_id", threshold=0.2)
        assert got.count() == 0, f"self-match after partial append ({partial})"
        # repair: full re-append, then a true duplicate probe sees
        # exactly ONE match row despite the doubled index rows
        D.append_dedup_index(batch, "text", "doc_id", p2)
        probe = spark.createDataFrame(
            [(200, "a fresh incoming document that matches nothing in corpus")],
            "doc_id long, text string",
        )
        rows = D.query_dedup_index(spark, p2, probe, "text", "doc_id", 0.2).collect()
        assert len(rows) == 1 and rows[0]["kind"] == "exact", rows
        assert (rows[0]["doc_id"], rows[0]["match_id"]) == (200, 100)


@pytest.mark.slow  # excluded from the driver-window gate (pytest.ini); run via -m slow
def test_text_index_append_merges_segments(spark, sf_dir, tmp_path):
    """BM25 through the persistent index: (a) build-once over the full
    corpus == the direct in-memory ranking; (b) build on half +
    append_text_index on the other half == build-once (segment stats
    are mergeable partials — the standing corpus is never
    re-tokenized); (c) the probe plan prunes the postings read to the
    query terms' hash buckets (PartitionFilters) and pushes the token
    filter into the scan."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import retrieval
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import _BM25_QUERIES, QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    direct = {
        tuple(r) for r in QUERIES["bm25_topk"](spark, sf_dir).collect()
    }

    once = str(tmp_path / "ti_once")
    retrieval.build_text_index(docs, "text", "doc_id", once)
    got_once = retrieval.query_text_index(spark, once, _BM25_QUERIES, k=10)
    assert {tuple(r) for r in got_once.collect()} == direct

    seg = str(tmp_path / "ti_seg")
    retrieval.build_text_index(
        docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id", seg
    )
    retrieval.append_text_index(
        docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", seg,
        segment="crawl1",
    )
    # release=False keeps the probe's lineage visible so the pruning
    # assertions below can see the parquet scan (the default releases
    # the postings cache via an eager k-row checkpoint)
    got_seg = retrieval.query_text_index(
        spark, seg, _BM25_QUERIES, k=10, release=False
    )
    assert {tuple(r) for r in got_seg.collect()} == direct

    plan = got_seg._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("PartitionFilters", 1)
    assert len(scan) == 2, "postings scan missing partition pruning"
    assert "bucket" in scan[1].split("]", 1)[0]
    assert "tok" in plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    spark.catalog.clearCache()  # release=False leaves tf caller-owned


def test_text_index_crash_replay_ignores_uncommitted_segment(spark, tmp_path):
    """a segment whose postings landed but whose stats (commit record)
    did not must be invisible to probes; re-running the append repairs
    it in place without duplicating postings."""
    import os

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import retrieval

    base = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(3, "alpha alpha beta")], "doc_id long, text string"
    )
    path = str(tmp_path / "ti_crash")
    retrieval.build_text_index(base, "text", "doc_id", path)
    q = [(1, "alpha"), (1, "beta")]
    before = {tuple(r) for r in retrieval.query_text_index(spark, path, q).collect()}

    # simulate a crash: postings for crawl1 land, stats do not
    retrieval.append_text_index(inc, "text", "doc_id", path, segment="crawl1")
    os.remove(f"{path}/stats/seg=crawl1.json")
    assert {
        tuple(r) for r in retrieval.query_text_index(spark, path, q).collect()
    } == before

    # replaying the append repairs the segment (dynamic overwrite: no
    # duplicated postings) and commits it
    retrieval.append_text_index(inc, "text", "doc_id", path, segment="crawl1")
    after = retrieval.query_text_index(spark, path, q)
    by_doc = {(r.query_id, r.doc_id): r for r in after.collect()}
    assert (1, 3) in by_doc
    assert by_doc[(1, 3)].n_terms == 2  # alpha+beta, counted once each


def test_adaptive_nbits_bounds_bucket_occupancy():
    """dedup_embedding's LSH bit-width must grow with corpus size so
    expected bucket occupancy (n / 2^nbits) stays ≤ ~target: a fixed
    width is O((n/const)²) pairwise at scale (r2 verdict weak #1).
    Also pins the integer formula the DuckDB oracle mirrors."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.dedup import adaptive_nbits

    assert adaptive_nbits(0) == 8 and adaptive_nbits(1) == 8
    assert adaptive_nbits(500) == 8      # driver sf0.01 corpus: unchanged
    assert adaptive_nbits(2000) == 8     # sf0.1
    assert adaptive_nbits(100_000) == 11
    assert adaptive_nbits(10_000_000) == 18
    assert adaptive_nbits(2**40) == 31   # capped int-safe
    for n in (10_000, 1_000_000, 10**9):
        nb = adaptive_nbits(n)
        assert n / (1 << nb) <= 64, (n, nb)   # occupancy bound
        assert (1 << nb) <= max(256, 2 * n)   # no overshoot past ~n buckets


def test_text_index_stats_count_zero_token_docs(spark, tmp_path):
    """index stats must count docs that tokenize to nothing (dl=0) the
    same way the direct from-scratch path does — idf/avgdl would
    otherwise diverge on any corpus containing such docs (ADVICE r2);
    and probing an index whose every append crashed pre-commit raises
    a clear error instead of TypeError/ZeroDivisionError."""
    import shutil

    import pytest

    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import tokens as toks
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import retrieval

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ti_zero")
    retrieval.build_text_index(docs, "text", "doc_id", path)
    q = [(1, "alpha"), (1, "beta")]
    got = {tuple(r) for r in retrieval.query_text_index(spark, path, q).collect()}

    # direct path: stats over ALL input rows, exactly as bm25_topk does
    stats = docs.select(F.size(toks(F.col("text"))).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("dl").cast("decimal(18,0)")).cast("long").alias("dl"),
    ).first()
    base = docs.select("doc_id", toks(F.col("text")).alias("_toks"))
    tf = (
        base.select(
            "doc_id", F.size("_toks").alias("dl"), F.explode("_toks").alias("tok")
        )
        .filter(F.col("tok").isin([t for _, t in q]))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"), F.min("dl").alias("dl"))
    )
    want = {
        tuple(r)
        for r in retrieval.bm25_rank(
            tf, q, int(stats["n"]), float(stats["dl"]) / int(stats["n"]), k=10
        ).collect()
    }
    assert got == want

    # no committed segments → clear ValueError, not int(None)
    shutil.rmtree(f"{path}/stats")
    with pytest.raises(ValueError, match="no committed segments"):
        retrieval.query_text_index(spark, path, q)


def test_text_index_stats_guard_repairs_overcount(spark):
    """r4 ADVICE: the Observation feeding the segment's commit record
    is accumulator-based, so a re-executed/speculative map stage
    over-counts n_docs/total_dl. The guard must (a) trust matching
    numbers without a second tokenize pass, (b) recompute exactly when
    the obs count disagrees with the exactly-once docs.count(), and
    (c) recompute under spark.speculation even on a matching count
    (total_dl can be inflated while n_docs matches)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.retrieval import _committed_stats

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma"), (3, None)],
        "doc_id long, text string",
    )
    exact = (3, 5)
    # (a) clean run: obs numbers pass through untouched
    assert _committed_stats(docs, "text", 3, 5) == exact
    # (b) a retried stage double-counted: repaired to the exact values
    assert _committed_stats(docs, "text", 6, 10) == exact
    # total_dl inflated while n_docs happens to match → undetectable
    # without speculation on; with it on, always recomputed
    assert _committed_stats(docs, "text", 3, 10) == (3, 10)
    assert _committed_stats(docs, "text", 3, 10, speculative=True) == exact


def test_pq_adc_quality(spark, sf_dir):
    """PQ/ADC quality bounds that hold even on near-isotropic test
    vectors (where exact-NN recall is information-theoretically out of
    reach for ANY 64× quantizer — neighbor margins are smaller than
    quantization error): (a) a query that IS in the corpus retrieves
    itself at rank 1 (its own code minimizes every subspace lookup —
    modulo code-tie id ordering, so ≥80% required); (b) the ADC
    ordering beats random: the mean EXACT distance of each query's
    ADC-top-5 (self excluded) must undercut the mean exact distance to
    the whole corpus for a clear majority of queries."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq.train_pq(emb, "embedding", "vec_id", m=4, ksub=16, max_iter=3)
    codes = pq.encode_pq(emb, "embedding", "vec_id", books).persist()
    queries = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 10).collect()
    ]
    approx = pq.pq_topk(codes, books, queries, k=6)
    by_q: dict[int, list] = {}
    for r in approx.collect():
        by_q.setdefault(r.query_id, []).append((r.rnk, r.corpus_id))

    vecs = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in emb.collect()}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    self_hits = sum(
        1 for qid, _ in queries if min(by_q[qid])[1] == qid
    )
    assert self_hits >= 0.8 * len(queries), f"self-retrieval {self_hits}/{len(queries)}"

    better = 0
    for qid, qv in queries:
        top = [cid for _, cid in sorted(by_q[qid]) if cid != qid][:5]
        mean_top = sum(d2(qv, vecs[c]) for c in top) / len(top)
        rest = [d2(qv, v) for cid, v in vecs.items() if cid != qid]
        mean_all = sum(rest) / len(rest)
        if mean_top < mean_all:
            better += 1
    assert better >= 0.7 * len(queries), f"ADC no better than random: {better}/{len(queries)}"


def test_ivfpq_index_matches_python_model(spark, tmp_path):
    """query_ivfpq_index's distributed ADC arithmetic must reproduce a
    pure-Python model of the same index EXACTLY (same meta, same
    codes, same residual LUTs): per-query top-5 ids and bitwise-equal
    approximate distances. Also: results only come from probed cells,
    and the codes scan is partition-pruned to them."""
    import json

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq

    rows = [
        (i, [float(((i * 31 + j * 7) % 23) - 11) / 3.0 for j in range(8)])
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivfpq")
    pq.build_ivfpq_index(df, "embedding", "vec_id", path, n_cells=4, m=2, ksub=4)

    queries = [(i, [float(x) for x in v]) for i, v in rows[:3]]
    got = {
        (r.query_id, r.rnk): (r.corpus_id, r.approx_dist)
        for r in pq.query_ivfpq_index(spark, path, queries, k=5, n_probe=2).collect()
    }

    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_json_meta

    meta = read_json_meta(spark, f"{path}/meta.json")
    cents = meta["centroids"]
    books = meta["codebooks"]
    codes = {
        (r.id): (r.cell, list(r.code))
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    m, dsub = len(books), len(books[0][0])

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    for qid, qv in queries:
        probed = sorted(
            (d2(qv, c), ci) for ci, c in enumerate(cents)
        )[:2]
        probed_cells = {ci for _, ci in probed}
        cand = []
        for cid, (cell, code) in codes.items():
            if cell not in probed_cells:
                continue
            res = [a - b for a, b in zip(qv, cents[cell])]
            dist = 0.0
            for j in range(m):
                sub = res[j * dsub : (j + 1) * dsub]
                dist += d2(sub, books[j][code[j]])
            cand.append((dist, cid))
        cand.sort()
        for rnk, (dist, cid) in enumerate(cand[:5], start=1):
            gcid, gdist = got[(qid, rnk)]
            assert gcid == cid, (qid, rnk, gcid, cid)
            assert gdist == dist, (qid, rnk, gdist, dist)
        # nothing outside the probed cells
        for rnk in range(1, 6):
            if (qid, rnk) in got:
                assert codes[got[(qid, rnk)][0]][0] in probed_cells

    plan = (
        pq.query_ivfpq_index(spark, path, queries, k=5, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_review_guardrails(spark, tmp_path):
    """review-pass regressions stay fixed: (a) PQ ADC with an empty
    query list returns an empty typed frame instead of a runtime
    array-index error; (b) k_core raises on round exhaustion instead
    of returning a non-core; (c) the text index pins its bucket
    modulus — mismatched appends/builds error instead of silently
    pruning wrong buckets; (d) rebuilding a segment from a changed
    corpus drops the stale postings."""
    import pytest as _pytest

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq, retrieval
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.graph import k_core

    # (a) empty queries
    codes = spark.createDataFrame([(1, [0, 1])], "id long, code array<int>")
    books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]
    out = pq.pq_topk(codes, books, [], k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "corpus_id", "approx_dist", "rnk"]

    # (b) peel exhaustion raises
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="fixpoint"):
        k_core(chain, k=2, max_iter=3)

    # (c) bucket modulus pinned in meta
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    path = str(tmp_path / "pin")
    retrieval.build_text_index(docs, "text", "doc_id", path, n_buckets=32)
    with _pytest.raises(ValueError, match="n_buckets=32"):
        retrieval.build_text_index(docs, "text", "doc_id", path, n_buckets=64)
    with _pytest.raises(ValueError, match="n_buckets=32"):
        retrieval.append_text_index(
            docs, "text", "doc_id", path, segment="s2", n_buckets=64
        )
    # probe works without knowing the modulus (reads it from meta)
    got = retrieval.query_text_index(spark, path, [(1, "beta")], k=5)
    assert {r.doc_id for r in got.collect()} == {1, 2}

    # (d) rebuild drops stale postings
    docs_b = spark.createDataFrame([(3, "delta epsilon")], "doc_id long, text string")
    retrieval.build_text_index(docs_b, "text", "doc_id", path, n_buckets=32)
    assert retrieval.query_text_index(spark, path, [(1, "beta")], k=5).count() == 0
    got2 = retrieval.query_text_index(spark, path, [(1, "delta")], k=5)
    assert {r.doc_id for r in got2.collect()} == {3}


def test_ivfpq_append_lifecycle(spark, tmp_path):
    """per-crawl IVF-PQ appends (r6): appended vectors are encoded
    against the index's EXISTING quantizers (bitwise == a direct
    encode with the meta), become reachable through the probe, and an
    uncommitted segment (stats sidecar missing) is invisible until a
    replayed append repairs it in place with no duplicate codes."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import assign_clusters
    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.vectors import array_sql
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.pq import encode_pq
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_json_meta
    from pyspark.sql import functions as F

    rows = [
        (i, [float(((i * 31 + j * 7) % 23) - 11) / 3.0 for j in range(8)])
        for i in range(60)
    ]
    base = spark.createDataFrame(rows[:40], "vec_id long, embedding array<float>")
    crawl = spark.createDataFrame(rows[40:], "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivfpq")
    pq.build_ivfpq_index(base, "embedding", "vec_id", path, n_cells=4, m=2, ksub=4)
    pq.append_ivfpq_index(crawl, "embedding", "vec_id", path, segment="crawl1")

    # appended ids reachable: querying a crawl vector for itself must
    # surface it, and its ADC distance must equal the rank-1 distance
    # (coarse codes can TIE with an earlier id — rank-1 *identity* is
    # not guaranteed under quantization, the distance is)
    queries = [(i, [float(x) for x in v]) for i, v in rows[40:43]]
    res = pq.query_ivfpq_index(spark, path, queries, k=25, n_probe=4).collect()
    got = {(r.query_id, r.rnk): r.corpus_id for r in res}
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, {})[r.corpus_id] = (r.approx_dist, r.rnk)
    for qid, _ in queries:
        assert qid in by_q[qid], "appended vector unreachable through the probe"
        own_dist = by_q[qid][qid][0]
        top_dist = min(d for d, _ in by_q[qid].values())
        assert own_dist == top_dist

    # appended codes bitwise == a direct encode with the committed meta
    meta = read_json_meta(spark, f"{path}/meta.json")
    cents, books = meta["centroids"], meta["codebooks"]
    assigned = assign_clusters(crawl, "embedding", "vec_id", cents)
    cmat = F.expr(array_sql(cents))
    resid = assigned.select(
        "id", F.col("cluster").alias("cell"),
        F.zip_with("vec", F.element_at(cmat, F.col("cluster") + 1), lambda x, c: x - c).alias("res"),
    )
    want = {
        (r.id, r.cell): list(r.code)
        for r in encode_pq(resid, "res", "id", books, carry=("cell",)).collect()
    }
    stored = {
        (r.id, r.cell): list(r.code)
        for r in spark.read.parquet(f"{path}/codes")
        .filter(F.col("seg") == "crawl1")
        .collect()
    }
    assert stored == want

    # crash-replay: kill crawl1's commit record -> probe ignores it
    import os
    os.remove(f"{path}/stats/seg=crawl1.json")
    got2 = {
        r.corpus_id
        for r in pq.query_ivfpq_index(spark, path, queries, k=3, n_probe=4).collect()
    }
    assert not ({i for i, _ in rows[40:]} & got2), "uncommitted segment leaked"
    # replayed append repairs in place, no duplicates
    pq.append_ivfpq_index(crawl, "embedding", "vec_id", path, segment="crawl1")
    n = (
        spark.read.parquet(f"{path}/codes")
        .filter(F.col("seg") == "crawl1")
        .count()
    )
    assert n == 20
    got3 = {
        (r.query_id, r.rnk): r.corpus_id
        for r in pq.query_ivfpq_index(spark, path, queries, k=25, n_probe=4).collect()
    }
    assert got3 == got
