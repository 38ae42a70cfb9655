

import pytest


def test_real_header_decode_bmp_wav(spark):
    """decode_media really parses BMP dimensions and WAV duration from
    raw bytes (stdlib header math — no image/audio libs), falling back
    to the deterministic fake for unknown formats."""
    import struct

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.multimodal import decode_media

    def bmp(width, height):
        header = b"BM" + b"\x00" * 16 + struct.pack("<ii", width, height)
        return header + b"\x00" * 10

    def wav(byte_rate, data_bytes):
        return (
            b"RIFF" + struct.pack("<I", 36 + data_bytes) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + b"\x00" * 8
            + struct.pack("<I", byte_rate) + b"\x00" * 4
            + b"data" + struct.pack("<I", data_bytes) + b"\x00" * data_bytes
        )

    rows = [
        (1, "image", bytearray(bmp(640, 480))),
        (2, "image", bytearray(bmp(1920, -1080))),  # top-down BMP: negative height
        (3, "audio", bytearray(wav(16000, 48000))),  # 3.0 s
        (4, "video", bytearray(b"\x00\x01\x02unknown-codec")),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )
    got = {r.media_id: r for r in decode_media(df).collect()}
    assert (got[1].width, got[1].height) == (640, 480)
    assert (got[2].width, got[2].height) == (1920, 1080)
    assert got[3].duration_ms == 3000
    assert got[4].width > 0 and got[4].checksum  # fake path still typed
    assert got[1].n_bytes == len(bmp(640, 480))


@pytest.mark.slow  # excluded from the driver-window gate (pytest.ini); run via -m slow
def test_two_phase_cc_deep_and_random_graphs(spark):
    """large-star/small-star CC must label a deep chain correctly in
    O(log^2 n) rounds — where plain min propagation would need
    O(diameter) — and must agree with the propagation variant on
    random graphs and cliques."""
    import random

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    # chain 0-1-...-120: diameter 120 >> max_iter 20
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    got = {
        (r.id, r.cluster)
        for r in connected_components_star(chain, max_iter=20).collect()
    }
    assert got == {(i, 0) for i in range(121)}, "chain must collapse to root 0"

    # two cliques + isolated edge; compare with the propagation variant
    rng = random.Random(7)
    edges = [(a, b) for a in range(0, 8) for b in range(a + 1, 8)]
    edges += [(a, b) for a in range(20, 26) for b in range(a + 1, 26)]
    edges += [(100, 101)]
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {
        (r.id, r.cluster) for r in connected_components_star(df).collect()
    }
    prop = {
        (r.id, r.cluster) for r in connected_components(df).collect()
    }
    assert star == prop

    # random sparse graph
    redges = [
        (rng.randrange(40), rng.randrange(40)) for _ in range(60)
    ]
    redges = [(a, b) for a, b in redges if a != b]
    df = spark.createDataFrame(redges, "id_a long, id_b long")
    star = {(r.id, r.cluster) for r in connected_components_star(df).collect()}
    prop = {(r.id, r.cluster) for r in connected_components(df, max_iter=50).collect()}
    assert star == prop


def test_bpe_learns_expected_merges(spark):
    """BPE on the classic toy corpus: the most frequent adjacent pair
    merges first, greedy leftmost application, deterministic
    (count desc, pair asc) tie-break."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.bpe import train_bpe

    # "low" x5, "lower" x2, "newest" x6, "widest" x3 — textbook example
    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = train_bpe(docs, "text", n_merges=4).collect()
    got = [(r["rank"], r["left"], r["right"], r["pair_count"]) for r in merges]
    # pair counts over word frequencies: (e,s)=9, (s,t)=9, (t? ...);
    # tie on 9 breaks lexicographically: ("e","s") < ("s","t").
    assert got[0] == (1, "e", "s", 9)
    assert got[1] == (2, "es", "t", 9)
    # after "est": newest->n e w est (6), widest->w i d est (3):
    # next best is (l,o)=7 from low/lower
    assert got[2] == (3, "l", "o", 7)
    assert got[3] == (4, "lo", "w", 7)


def test_bpe_trainer_round1_runs_with_aqe_on(spark, monkeypatch):
    """small_shuffle must NOT cover round 1: the first collect materializes
    the corpus-wide word_frequencies shuffle, whose reduce side is
    vocabulary-cardinality-sized — it needs the session's shuffle
    partitions and AQE skew handling. Rounds 2+ run over the cached
    vocab frame and take the scoped settings (the r9 trainer trade)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import bpe

    seen = []
    real = bpe._pair_counts

    def probe(words):
        # conf observed at plan-construction time == at that round's
        # collect: the scope only transitions at loop tops
        seen.append(spark.conf.get("spark.sql.adaptive.enabled"))
        return real(words)

    monkeypatch.setattr(bpe, "_pair_counts", probe)
    text = " ".join(["low"] * 5 + ["newest"] * 6)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = bpe.train_bpe_merge_list(docs, "text", n_merges=3)
    assert len(merges) == 3
    assert seen[0] == "true"  # round 1: session settings, AQE on
    assert set(seen[1:]) == {"false"}  # rounds 2+: small_shuffle scope
    # scope restored after the trainer
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_bpe_merge_fold_is_greedy_nonoverlapping(spark):
    """'a a a a' under merge (a,a) becomes 'aa aa', never 'aaa a' —
    a just-merged symbol cannot re-match within the same pass."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.bpe import _merge_pair

    df = spark.createDataFrame(
        [(["a", "a", "a", "a"],), (["a", "b", "a", "b"],), (["x"],)],
        "syms array<string>",
    )
    got = [r[0] for r in df.select(_merge_pair(F.col("syms"), "a", "a")).collect()]
    assert got[0] == ["aa", "aa"]
    assert got[1] == ["a", "b", "a", "b"]
    assert got[2] == ["x"]


def test_bpe_charization_has_no_empty_symbols(spark):
    """F.split(word, '') must yield exactly the characters (no empty
    trailing element) — the symbol alphabet the first round counts."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("abc",), ("x",)], "word string")
    got = [r[0] for r in df.select(F.split("word", "")).collect()]
    assert got == [["a", "b", "c"], ["x"]]


@pytest.mark.slow  # excluded from the driver-window gate (pytest.ini); run via -m slow
def test_pagerank_invariants_and_known_graphs(spark):
    """Fixed-point PageRank: a ring is exactly uniform, a hub outranks
    its leaves, and reruns are deterministic."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.graph import pagerank_fixed_point

    scale = 10**12
    # ring 0-1-2-3-0: perfectly symmetric => uniform, with no rounding
    # loss (every rank divides evenly by the degree)
    ring = spark.createDataFrame(
        [(i, (i + 1) % 4) for i in range(4)], "id_a long, id_b long"
    )
    rr = {r.id: r.rank_fp for r in pagerank_fixed_point(ring, rounds=20).collect()}
    assert rr == {i: scale // 4 for i in range(4)}

    # star + tail: hub 0 linked to 1..4, tail 4-5
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)] + [(4, 5)], "id_a long, id_b long"
    )
    sr = {r.id: r.rank_fp for r in pagerank_fixed_point(star, rounds=20).collect()}
    assert sr[0] > max(sr[i] for i in range(1, 6))
    sr2 = {r.id: r.rank_fp for r in pagerank_fixed_point(star, rounds=20).collect()}
    assert sr == sr2, "pagerank must be deterministic"


def test_containment_catches_asymmetric_duplication(spark):
    """a short doc quoted wholesale inside a long one scores
    containment 1.0 while its Jaccard is far below any useful
    threshold — the case the containment operator exists for."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = (
        "intro words before the quote "
        + short
        + " and then a very long tail that keeps going with many more"
        " unique tokens one two three four five six seven eight nine ten"
    )
    other = "completely different text about ships and harbors at dawn"
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, "text", "doc_id", k=3, threshold=0.9).collect()
    }
    assert cont.get((1, 2)) == 1.0
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.0).collect()
    }
    assert jac[(1, 2)] < 0.5  # Jaccard alone would have missed it


def test_repeated_span_mass_flags_stitched_docs(spark):
    """a doc stitched from spans of two other docs has high dup_mass;
    a fully unique doc has mass 0; totals count positional instances."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.dedup import repeated_span_mass

    a = "the quick brown fox jumps over the lazy dog today"
    b = "pack my box with five dozen liquor jugs right now"
    stitched = a + " " + b  # every 5-gram inside a or b reappears here
    unique = "zebra yonder quasar nimbus oracle pylon ember waltz"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, stitched), (4, unique)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_span_mass(df, "text", "doc_id", k=5).collect()}
    assert out[4].dup_instances == 0 and out[4].dup_mass == 0.0
    # docs a and b are fully contained in the stitched doc → mass 1.0
    assert out[1].dup_mass == 1.0 and out[2].dup_mass == 1.0
    # the stitched doc's own mass: all grams except the seam grams
    # (spanning the a|b boundary) are repeats
    assert out[3].n_instances == 16  # 20 tokens → 16 positional 5-grams
    assert 0.5 < out[3].dup_mass < 1.0
    # 10-token docs → 6 positional 5-grams each
    assert out[1].n_instances == 6 and out[2].n_instances == 6


def test_triangle_counts_known_graph_and_hub(spark):
    """triangle + pendant star: exactly the triangle's vertices count
    1 each; star spokes close nothing. A second diamond component
    (two triangles sharing an edge) counts 2 on the shared edge."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.graph import triangle_counts

    edges = [
        # triangle 1-2-3 with hub 1 fanning to pendants 4, 5 (+ dupes
        # and reversed rows to prove canonicalization)
        (1, 2), (2, 3), (3, 1), (1, 4), (5, 1), (2, 1),
        # diamond 10-11-12-13: triangles (10,11,12) and (11,12,13)
        (10, 11), (10, 12), (11, 12), (11, 13), (12, 13),
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 1, 11: 2, 12: 2, 13: 1}


def test_cooccurrence_edges_group_cap(spark):
    """max_group drops trending groups BEFORE the pair self-join: a
    3-member group is kept at cap 3, dropped at cap 2 — while the
    2-member group's edge survives either way."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.graph import cooccurrence_edges

    rows = [
        (1, "g1"), (2, "g1"), (3, "g1"),  # 3-member group
        (4, "g2"), (5, "g2"),             # 2-member group
        (6, "g3"),                        # singleton: no edges
    ]
    df = spark.createDataFrame(rows, "uid long, grp string")
    full = {
        (r.id_a, r.id_b)
        for r in cooccurrence_edges(df, "uid", ["grp"], max_group=3).collect()
    }
    assert full == {(1, 2), (1, 3), (2, 3), (4, 5)}
    capped = {
        (r.id_a, r.id_b)
        for r in cooccurrence_edges(df, "uid", ["grp"], max_group=2).collect()
    }
    assert capped == {(4, 5)}


def test_k_core_peels_recursively(spark):
    """2-core: a triangle with a pendant chain survives as exactly the
    triangle (the chain peels away recursively, including the vertex
    that only LOOKED degree-2 because of the chain); a square survives
    whole; a pure chain vanishes."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.graph import k_core

    edges = [
        # triangle 1-2-3 with chain 3-4-5 hanging off it
        (1, 2), (2, 3), (1, 3), (3, 4), (4, 5),
        # square 10-11-12-13 (degree 2 everywhere — survives 2-core)
        (10, 11), (11, 12), (12, 13), (13, 10),
        # chain 20-21-22 (vanishes)
        (20, 21), (21, 22),
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r.id: r.core_degree for r in k_core(df, k=2).collect()}
    assert out == {
        1: 2, 2: 2, 3: 2,
        10: 2, 11: 2, 12: 2, 13: 2,
    }
    # 3-core of the same graph is empty (max degree in any subgraph < 3)
    assert k_core(df, k=3).count() == 0


def test_label_propagation_finds_dense_communities(spark):
    """two 4-cliques joined by a single bridge edge: CC merges them
    into one component, LPA keeps them as two communities (each
    clique's min id) — the density sensitivity LPA exists for. Re-run
    must be byte-identical (determinism)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r.id: r.community for r in label_propagation(df, rounds=3).collect()}
    assert {out[i] for i in (1, 2, 3, 4)} == {1}
    assert {out[i] for i in (10, 11, 12, 13)} == {10}
    # CC would have merged everything — one cluster
    cc = {r.cluster for r in connected_components(df, "id_a", "id_b").collect()}
    assert cc == {1}
    again = {r.id: r.community for r in label_propagation(df, rounds=3).collect()}
    assert again == out


def test_pq_encode_decode_properties(spark):
    """PQ codes: in [0, ksub); deterministic across retrains; a vector
    sitting exactly ON a centroid gets that centroid's code (ADC
    distance 0 to itself)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b1 = pq.train_pq(df, "embedding", "vec_id", m=2, ksub=4, max_iter=3)
    b2 = pq.train_pq(df, "embedding", "vec_id", m=2, ksub=4, max_iter=3)
    assert b1 == b2, "PQ training must be deterministic"
    codes = pq.encode_pq(df, "embedding", "vec_id", b1)
    got = {r.id: list(r.code) for r in codes.collect()}
    assert set(got) == {i for i, _ in rows}
    assert all(0 <= c < 4 for cs in got.values() for c in cs)
    # self-query: every query's OWN code-cell distance is minimal for
    # the quantized representative, so the query itself ranks first
    # when it is in the corpus (ADC dist to own code == quantization
    # error, strictly smaller than to other cells' codes here)
    queries = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in (0, 5)]
    top = pq.pq_topk(codes, b1, queries, k=1)
    first = {r.query_id: r.corpus_id for r in top.collect()}
    for qid in (0, 5):
        qcode = got[qid]
        top_code = got[first[qid]]
        assert top_code == qcode, "rank-1 must share the query's PQ cell"


def test_fused_pq_training_equals_sequential_kmeans(spark):
    """train_pq fuses all subspaces into shared jobs; the codebooks
    must be BYTE-identical to m independent kmeans() runs over the
    subspace slices (same md5-ordered seeds, same exact-decimal
    updates)."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import kmeans

    rows = [
        (i, [float(((i * 13 + j * 5) % 17) - 8) for j in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fused = pq.train_pq(df, "embedding", "vec_id", m=2, ksub=4, max_iter=3)
    seq = []
    for j in range(2):
        sub = df.select(
            F.col("vec_id").alias("id"), F.slice("embedding", j * 4 + 1, 4).alias("sub")
        )
        _, cents = kmeans(sub, "sub", "id", k=4, max_iter=3)
        seq.append(cents)
    assert fused == seq


def test_driver_side_seeding_bitwise_equals_collect_path(spark, tmp_path):
    """build_ivfpq_index trains both quantizers on the driver
    (clustering.lloyd_train_np over the md5-ordered sample). When the
    sample covers the frame, its centroids must equal kmeans() and its
    codebooks must equal train_pq() over the Spark-built residual frame,
    bit for bit: the driver-side round of the Lloyd trainer agrees with
    the distributed one."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.vectors import array_sql
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import (
        assign_clusters,
        kmeans,
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_json_meta

    rows = [
        (i, [float(((i * 29 + j * 7) % 23) - 11) / 3.0 for j in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivfpq")
    pq.build_ivfpq_index(
        df, "embedding", "vec_id", path, n_cells=4, m=2, ksub=4, max_iter=3,
        train_sample=100,
    )
    meta = read_json_meta(spark, f"{path}/meta.json")

    _, cents = kmeans(df, "embedding", "vec_id", k=4, max_iter=3)
    assert meta["centroids"] == cents  # exact float equality, not approx

    assigned = assign_clusters(df, "embedding", "vec_id", cents)
    cmat = F.expr(array_sql(cents))
    resid = assigned.select(
        "id",
        F.zip_with(
            "vec", F.element_at(cmat, F.col("cluster") + 1), lambda x, c: x - c
        ).alias("res"),
    )
    books = pq.train_pq(resid, "res", "id", m=2, ksub=4, max_iter=3)
    assert meta["codebooks"] == books


def test_array_sql_text_is_exact():
    """functions.vectors.array_sql: doubles round-trip through
    CAST('repr' AS DOUBLE), BIGINTs print as nL, nesting follows the
    list (the text every literal centroid, codebook, LUT and weight
    array in a plan is built from)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.vectors import (
        array_sql,
        i64_sql,
    )

    assert array_sql([0.1, 2]) == "array(CAST('0.1' AS DOUBLE),CAST('2.0' AS DOUBLE))"
    assert array_sql([[1, -2], [3]], i64_sql) == "array(array(1L,-2L),array(3L))"
    assert array_sql([[[0.5]], []]) == "array(array(array(CAST('0.5' AS DOUBLE))),array())"


def test_bpe_encode_applies_merges_in_rank_order(spark):
    """encode_bpe reproduces hand-computed BPE segmentation: rules
    fire in rank order, each greedy-leftmost; words untouched by any
    rule stay character-split; counts line up."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.bpe import encode_bpe

    df = spark.createDataFrame(
        [(1, "hello hell oh"), (2, "aaab")], "doc_id long, text string"
    )
    merges = [("h", "e"), ("he", "l"), ("l", "o")]
    out = {r.id: r for r in encode_bpe(df, "text", "doc_id", merges).collect()}
    # hello: h e l l o -> he l l o -> hel l o -> hel lo
    # hell:  h e l l   -> he l l   -> hel l
    # oh:    o h (no rule matches)
    assert list(out[1].subwords) == ["hel", "lo", "hel", "l", "o", "h"]
    assert out[1].n_words == 3 and out[1].n_subwords == 6
    # aaab: a a a b — no rule applies
    assert list(out[2].subwords) == ["a", "a", "a", "b"]


def test_bpe_train_then_encode_roundtrip(spark):
    """the merges train_bpe learns, applied by encode_bpe, segment the
    training corpus' dominant word into one symbol."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.bpe import encode_bpe, train_bpe

    df = spark.createDataFrame(
        [(i, "abab abab abab zz") for i in range(6)], "doc_id long, text string"
    )
    merges_df = train_bpe(df, "text", n_merges=3)
    merges = [(r["left"], r["right"]) for r in merges_df.orderBy("rank").collect()]
    enc = {r.id: r for r in encode_bpe(df, "text", "doc_id", merges).collect()}
    # 'abab' must collapse into a single subword within 3 merges
    subs = list(enc[0].subwords)
    assert "abab" in subs


def test_bigram_lm_scores_fluent_docs_higher(spark):
    """A doc made of the corpus's dominant bigrams outscores a doc of
    one-off bigrams, scores are bounded by the quantization scale, and
    a doc with <2 tokens is absent (no LM evidence)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.lm import FP_SCALE, score_bigram_lm

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "the cat sat on the mat"),
        (4, "zx qv pl mn ko ij"),  # every bigram unique in corpus
        (5, "word"),  # single token — no bigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in score_bigram_lm(docs).collect()}
    assert 5 not in out
    assert set(out) == {1, 2, 3, 4}
    assert out[1].score_fp == out[2].score_fp == out[3].score_fp
    # dominant-bigram docs score strictly higher than the one-off doc
    assert out[1].score_fp > out[4].score_fp
    for r in out.values():
        assert 0 <= r.score_fp <= FP_SCALE
    # doc 1 has 5 bigrams; "the"->{"cat","mat"} splits its context
    assert out[1].n_bigrams == 5


def test_dsir_sample_prefers_target_like_docs(spark):
    """Docs sharing the target exemplars' vocabulary get higher
    importance scores than off-distribution docs, and the keep set is
    exactly the top-(n/denom) by (score desc, doc_id)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.lm import dsir_sample, dsir_scores
    from pyspark.sql import functions as F

    tgt_text = "alpha beta gamma delta alpha beta"
    src_text = "omega psi chi phi omega psi"
    rows = (
        [(i, tgt_text, "en") for i in range(4)]
        + [(10 + i, tgt_text, "xx") for i in range(3)]  # target-LIKE, not exemplars
        + [(20 + i, src_text, "xx") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    is_tgt = F.col("lang") == "en"
    scores = {r.doc_id: r.score_fp for r in dsir_scores(docs, is_tgt).collect()}
    assert min(scores[d] for d in (10, 11, 12)) > max(scores[d] for d in (20, 21, 22, 23, 24))
    kept = dsir_sample(docs, is_tgt, keep_frac_denom=4).collect()
    assert len(kept) == 3  # 12 docs // 4
    expect = sorted(scores, key=lambda d: (-scores[d], d))[:3]
    assert [r.doc_id for r in kept] == expect


def test_token_budget_mixture_waterfill_invariants(spark):
    """Waterfilled caps: kept tokens never exceed the half-corpus
    budget, a source smaller than the waterline keeps ALL its docs,
    and capped sources keep a greedy md5-rank prefix."""
    import sys
    sys.path.insert(0, "/root/repo")
    from __spark_entry__ import queries

    out = queries()["token_budget_mixture"](spark, "/root/testdata/sf0.001").toPandas()
    total = out.n_tokens.sum()
    kept = out[out.kept].n_tokens.sum()
    assert kept <= total // 2
    per_src = out.groupby("source")
    for src, g in per_src:
        n_src = g.n_tokens.sum()
        cap = g.source_budget.iloc[0]
        assert (g.source_budget == cap).all()
        if n_src <= cap:  # under the waterline: everything kept
            assert g.kept.all()
        else:  # capped: kept tokens within cap, and nothing was skipped
            assert g[g.kept].n_tokens.sum() <= cap


def test_filter_funnel_is_monotone(spark):
    """Cumulative funnel: every stage keeps a subset of the previous
    stage's docs AND tokens, stage indices are contiguous from raw."""
    import sys
    sys.path.insert(0, "/root/repo")
    from __spark_entry__ import queries

    out = queries()["filter_funnel_report"](spark, "/root/testdata/sf0.001").toPandas()
    out = out.sort_values("stage_idx").reset_index(drop=True)
    assert list(out.stage_idx) == [0, 1, 2, 3, 4]
    assert list(out.stage) == ["raw", "lang", "quality", "dedup_exact", "decontaminated"]
    assert (out.n_docs.diff().dropna() <= 0).all()
    assert (out.n_tokens.diff().dropna() <= 0).all()
    assert out.n_docs.iloc[0] > 0


def test_quality_probe_separates_and_descends(spark):
    """The centered integer-GD probe (a) scores vocabulary-disjoint
    positive-class docs above negative-class docs, and (b) strictly
    decreases the centered least-squares loss each round — the
    1/trace step-size guarantee (trace >= lambda_max) holding through
    the floor-division quantization."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.lm import (
        QC_SCALE,
        _qc_weight_expr,
        train_quality_probe,
    )

    pos_text = "alpha beta gamma delta epsilon zeta common words here"
    neg_text = "omega psi chi phi upsilon tau common words here"
    rows = [(i, pos_text + f" extra{i % 3}", "en") for i in range(8)] + [
        (100 + i, neg_text + f" extra{i % 3}", "xx") for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    is_pos = F.col("lang") == "en"

    def loss(rounds):
        w, kc, feats, ydf = train_quality_probe(docs, is_pos, rounds=rounds)
        n = ydf.count()
        npos = ydf.agg(F.sum("y")).collect()[0][0]
        ybar = QC_SCALE * npos // n
        sw = feats.groupBy("id").agg(
            F.sum(_qc_weight_expr(w, 256)).alias("sw")
        )
        resid = [
            r.r
            for r in ydf.join(sw, "id")
            .select(
                (
                    F.col("sw") - F.lit(kc)
                    - (F.col("y") * QC_SCALE - F.lit(ybar))
                ).alias("r")
            )
            .collect()
        ]
        return sum(v * v for v in resid), w, kc, feats, ydf

    l0, *_ = loss(0)
    l1, *_ = loss(1)
    l3, w, kc, feats, ydf = loss(3)
    assert l0 > l1 > l3  # monotone descent through quantization

    sw = feats.groupBy("id").agg(
        (F.sum(_qc_weight_expr(w, 256)) - F.lit(kc)).alias("s")
    )
    by_label = {
        r.y: r.m
        for r in ydf.join(sw, "id").groupBy("y").agg(F.avg("s").alias("m")).collect()
    }
    assert by_label[1] > by_label[0]  # positives score higher


def test_kcenter_matches_numpy_reference(spark, sf_dir):
    """The distributed greedy traversal (literal-matrix map-only
    rounds + TakeOrdered argmax) reproduces a driver-side numpy
    replica of Gonzalez's algorithm EXACTLY — picks, selection radii,
    and final cell sizes — on the real embeddings table."""
    import numpy as np
    import pyarrow.parquet as pq

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import kcenter_select
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    order = np.argsort(ids)
    ids = ids[order]
    V = np.floor(
        np.array(t.column("embedding").to_pylist(), dtype=np.float64)[order] * 1e6
    ).astype(np.int64)

    k = 8
    sel = [(1, int(ids[0]), 0)]
    picked = [0]
    d = ((V - V[0]) ** 2).sum(axis=1)
    for r in range(2, k + 1):
        i = int(np.argmax(d))  # ids sorted asc -> first max == min-id tiebreak
        sel.append((r, int(ids[i]), int(d[i])))
        picked.append(i)
        d = np.minimum(d, ((V - V[i]) ** 2).sum(axis=1))
    dist_to = np.stack([((V - V[i]) ** 2).sum(axis=1) for i in picked])
    cells = np.argmin(dist_to, axis=0)  # first min == earlier-pick tiebreak
    expect = [
        (r, vid, dd, int((cells == j).sum())) for j, (r, vid, dd) in enumerate(sel)
    ]

    emb = load_table(spark, sf_dir, "embeddings")
    got = [
        (r.sel_rank, r.vec_id, r.dist_fp, r.n_assigned)
        for r in kcenter_select(emb, "embedding", "vec_id", k=k).collect()
    ]
    assert got == expect
    # greedy radii are non-increasing from the second pick on
    radii = [dd for _, _, dd, _ in got[1:]]
    assert radii == sorted(radii, reverse=True)


def test_moore_lewis_prefers_target_like_docs(spark):
    """Docs written in the target exemplars' bigram distribution get a
    higher cross-entropy-difference delta than generic/off-distribution
    docs, and the keep set is exactly the top quarter of SCORED docs
    by (delta desc, doc_id); a <2-token doc is never scored."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.lm import (
        moore_lewis_scores,
        moore_lewis_select,
    )

    tgt_text = "alpha beta gamma delta alpha beta gamma"
    gen_text = "omega psi chi phi omega psi chi"
    rows = (
        [(i, tgt_text, "en") for i in range(4)]
        + [(10 + i, tgt_text, "xx") for i in range(3)]  # target-LIKE, not exemplars
        + [(20 + i, gen_text, "xx") for i in range(5)]
        + [(30, "solo", "xx")]  # single token: no bigrams, never scored
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    is_tgt = F.col("lang") == "en"
    scores = {r.doc_id: r.delta_fp for r in moore_lewis_scores(docs, is_tgt).collect()}
    assert 30 not in scores
    assert min(scores[d] for d in (10, 11, 12)) > max(
        scores[d] for d in (20, 21, 22, 23, 24)
    )
    kept = moore_lewis_select(docs, is_tgt, keep_frac_denom=4).collect()
    assert len(kept) == 3  # 12 scored docs // 4
    expect = sorted(scores, key=lambda d: (-scores[d], d))[:3]
    assert [r.doc_id for r in kept] == expect


def test_kcenter_stops_at_distinct_point_count(spark):
    """With fewer than k distinct points the traversal stops at the
    first zero radius instead of emitting duplicate picks — duplicate
    coordinates fold into the earlier pick's cell."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import kcenter_select

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 2.0]), (4, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    out = [tuple(r) for r in kcenter_select(df, "embedding", "vec_id", k=8).collect()]
    assert out == [
        (1, 1, 0, 1),
        (2, 3, 4_000_000_000_000, 2),  # farthest first; its duplicate joins its cell
        (3, 2, 1_000_000_000_000, 1),
    ]


def test_kcenter_rejects_overflow_coordinates(spark):
    """r4 ADVICE: past the BIGINT bound the quantized distance (and the
    numpy int64 matmul) wraps SILENTLY — kcenter_select must fail
    loudly instead of corrupting picks. At dim 2 the safe bound on the
    quantized coordinate is isqrt((2^63-1)/2)//2 ~= 1.07e9, i.e. raw
    max|x| ~ 1073 at KC_SCALE 1e6; coordinates just inside pass."""
    import pytest

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import kcenter_select

    bad = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [2.0e3, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="BIGINT-safe bound"):
        kcenter_select(bad, "embedding", "vec_id", k=2)

    ok = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0e3, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = kcenter_select(ok, "embedding", "vec_id", k=2).collect()
    assert [r.sel_rank for r in out] == [1, 2]


@pytest.mark.slow  # excluded from the driver-window gate (pytest.ini); run via -m slow
def test_kcenter_paths_are_bitwise_identical(spark, sf_dir):
    """The incremental (localCheckpoint LEAST-maintenance) traversal
    equals the literal-matrix recompute traversal row-for-row on the
    real embeddings, and a large-k run through the int64 BLAS
    assignment agrees with a numpy replica — integer arithmetic makes
    both strategy switches bitwise-free, unlike their float cousins."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import kcenter_select
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = [tuple(r) for r in kcenter_select(emb, "embedding", "vec_id", k=8,
                                          incremental=False).collect()]
    b = [tuple(r) for r in kcenter_select(emb, "embedding", "vec_id", k=8,
                                          incremental=True).collect()]
    assert a == b
    # k above _LITERAL_K_MAX exercises incremental rounds + BLAS cells
    big = kcenter_select(emb, "embedding", "vec_id", k=40).collect()
    assert [r.sel_rank for r in big] == list(range(1, len(big) + 1))
    assert sum(r.n_assigned for r in big) == emb.count()
    radii = [r.dist_fp for r in big[1:]]
    assert radii == sorted(radii, reverse=True) and all(d > 0 for d in radii)


def test_ts_analog_finds_planted_shifted_pattern(spark):
    """A historical window that repeats the latest window's SHAPE at a
    different level (constant offset) scores distance 0 — the
    mean-centering at work — and ranks first; windows inside the
    trivial-match exclusion zone never appear as candidates."""
    import datetime as dt

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.windows import ts_analog_topk

    base = dt.datetime(2024, 1, 1)
    pattern = [3, 50, 7, 90, 11, 60, 2, 80]
    vals = [1000 + 7 * i for i in range(40)]
    vals[32:40] = pattern  # the query window (positions 33..40)
    vals[4:12] = [p + 100 for p in pattern]  # planted shifted analog
    rows = [
        ("a", base + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "key string, minute timestamp, qv long")
    out = ts_analog_topk(df, "key", "minute", "qv", m=8, k=3).collect()
    assert out[0].dist_fp == 0
    assert out[0].start_minute == base + dt.timedelta(minutes=4)
    assert all(r.dist_fp > 0 for r in out[1:])
    # exclusion zone: no candidate may start after n - 2m (position 24)
    assert all(
        r.start_minute <= base + dt.timedelta(minutes=23) for r in out
    )


def test_sq8_codes_bounded_and_reconstruction_error(spark):
    """SQ8 codes live in [0, 255]; decoding c -> mn + c*rg/255
    reconstructs every coordinate within one quantization step
    (floor truncates, so error < rg/255 + ulp slack)."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    mins, ranges = pq.train_sq8(df, "embedding", dim=8)
    coded = df.select(
        "vec_id",
        "embedding",
        pq.sq8_code_expr(F.col("embedding"), mins, ranges).alias("code"),
    ).collect()
    for r in coded:
        assert all(0 <= c <= 255 for c in r.code)
        for j, (x, c) in enumerate(zip(r.embedding, r.code)):
            step = ranges[j] / 255.0 if ranges[j] > 0 else 0.0
            xhat = mins[j] + c * step
            assert abs(float(x) - xhat) <= step + 1e-9


def test_sq8_topk_recall_vs_exact(spark, sf_dir):
    """the quantized ranking must preserve retrieval quality: recall@5
    against the exact float cosine top-k stays high (measured 0.84 at
    sf0.001 / 0.86 at sf0.01; floor 0.7)."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import pq, similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, qs, "embedding", "vec_id", k=5)
    appr = pq.sq8_topk(emb, qs, "embedding", "vec_id", k=5)
    e = {(r.query_id, r.corpus_id) for r in exact.collect()}
    a = {(r.query_id, r.corpus_id) for r in appr.collect()}
    assert len(e & a) / len(e) >= 0.7


def test_paragraph_dedup_keepfirst_semantics(spark):
    """keep-first paragraph dedup: every distinct segment survives
    EXACTLY once corpus-wide (unlike boilerplate removal, which cuts
    all occurrences above a df threshold — including the first), and
    the survivor is the (doc_id, pos)-earliest occurrence."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.dedup import (
        dedup_paragraphs_keepfirst,
    )

    seg_a = "a b c d e"
    seg_b = "f g h i j"
    seg_c = "k l m n o"
    rows = [
        (1, f"{seg_a} {seg_b}"),          # first occurrences of a, b
        (2, f"{seg_a} {seg_c}"),          # a is a dup; c first
        (3, f"{seg_b} {seg_a} {seg_c}"),  # all dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup_paragraphs_keepfirst(df, "text", "doc_id").collect()}
    assert out[1].clean_text == f"{seg_a} {seg_b}" and out[1].n_removed == 0
    assert out[2].clean_text == seg_c and out[2].n_removed == 1
    assert out[3].clean_text == "" and out[3].n_removed == 3
    # corpus-wide: each distinct segment appears exactly once
    all_txt = " ".join(v.clean_text for v in out.values() if v.clean_text)
    for seg in (seg_a, seg_b, seg_c):
        assert all_txt.count(seg) == 1


def test_brute_force_topk_breaks_cosine_ties_on_corpus_id(spark):
    """duplicate vectors tie on cos_sim: the lower corpus_id ranks
    first, ranks run 1..k, and the cut at k drops the rest of the tie
    (the windows.topk_per_key ranking the similarity operators
    share)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import similarity

    dup = [1.0, 1.0, 0.0, 0.0]
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),  # query 0
        (1, [0.0, 0.0, 1.0, 0.0]),  # query 1
        (2, [0.0, 1.0, 0.0, 0.0]),
        (7, dup),
        (3, dup),
        (5, dup),
        (9, [1.0, 0.1, 0.0, 0.0]),
        (8, [0.0, 0.0, 2.0, 0.0]),
        (6, [0.0, 0.0, 2.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.filter("vec_id < 2")
    out = similarity.brute_force_topk(df, qs, "embedding", "vec_id", k=3).collect()
    got = {
        q: [(r.corpus_id, r.rnk) for r in sorted(out, key=lambda r: r.rnk) if r.query_id == q]
        for q in (0, 1)
    }
    # query 0: 9 is nearest, then the three-way tie 3/5/7 cut after 5
    assert got[0] == [(9, 1), (3, 2), (5, 3)]
    # query 1: 6 and 8 tie at cos 1.0, then the cos-0.0 tie opens at 0
    assert got[1] == [(6, 1), (8, 2), (0, 3)]
    cos = {(r.query_id, r.corpus_id): r.cos_sim for r in out}
    assert cos[(0, 3)] == cos[(0, 5)] and cos[(1, 6)] == cos[(1, 8)] == 1.0


def test_rp_rerank_clustered_corpus_recall_is_perfect(spark):
    """on a corpus with real cluster structure (0.05-noise planted
    clusters), 16 projected dims recover the exact cosine top-5
    perfectly even at 20 candidates — the operator's intended
    regime."""
    import random

    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import similarity

    rng = random.Random(0)
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    rows = []
    for i in range(200):
        c = centers[i % 20]
        rows.append((i, [float(x + 0.05 * rng.gauss(0, 1)) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(df, qs, "embedding", "vec_id", k=5)
    two = similarity.rp_rerank_topk(df, qs, "embedding", "vec_id",
                                    k=5, n_candidates=20)
    e = {(r.query_id, r.corpus_id) for r in exact.collect()}
    a = {(r.query_id, r.corpus_id) for r in two.collect()}
    assert len(e & a) / len(e) >= 0.9


def test_rp_rerank_isotropic_floor_and_exact_stage2(spark, sf_dir):
    """on the near-isotropic test vectors the cosine gaps sit below
    the JL error (the PQ recall note's regime), so recall is bounded
    — assert the measured floor (0.44 at 50 candidates; floor 0.25)
    and that every returned score IS the exact cosine bit-for-bit
    (stage 2 never approximates)."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, qs, "embedding", "vec_id", k=5)
    two = similarity.rp_rerank_topk(emb, qs, "embedding", "vec_id",
                                    k=5, n_candidates=50)
    e = {(r.query_id, r.corpus_id): r.cos_sim for r in exact.collect()}
    a = {(r.query_id, r.corpus_id): r.cos_sim for r in two.collect()}
    hits = set(e) & set(a)
    assert len(hits) / len(e) >= 0.25
    for key in hits:  # stage-2 scores are the exact cosine, bit-for-bit
        assert e[key] == a[key]


def test_exact_substring_dedup_arbitrary_alignment(spark):
    """a duplicated 8-token span at DIFFERENT offsets in two docs is
    cut from the later doc only (keep-first), at arbitrary alignment;
    longer shared spans are cut in full via overlapping 8-grams;
    sub-min_len docs and unique text are untouched."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.dedup import (
        dedup_exact_substrings,
    )

    span = "s1 s2 s3 s4 s5 s6 s7 s8"
    longer = span + " s9 s10"  # 10-token shared span
    rows = [
        (1, f"a1 a2 a3 {longer} a4"),       # first occurrence (offset 3)
        (2, f"b1 {longer} b2 b3 b4 b5"),    # dup at offset 1 -> cut 10 toks
        (3, "c1 c2 c3 c4 c5"),              # shorter than min_len: no grams
        (4, "d1 d2 d3 d4 d5 d6 d7 d8 d9"),  # unique 9-token doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup_exact_substrings(df, "text", "doc_id", min_len=8).collect()}
    assert out[1].n_cut_tokens == 0 and out[1].clean_text == rows[0][1]
    assert out[2].n_cut_tokens == 10
    assert out[2].clean_text == "b1 b2 b3 b4 b5"
    assert out[3].n_cut_tokens == 0 and out[3].clean_text == rows[2][1]
    assert out[4].n_cut_tokens == 0 and out[4].clean_text == rows[3][1]


def test_exact_substring_dedup_pathological_cut_density(spark):
    """r4 verdict item 2: the reassembly must stay linear per doc on
    the two worst cut shapes. (a) a doc that is ONE duplicated region
    repeated — cut starts at every position (cuts ~ tokens; the old
    per-token exists() scan was O(tokens²) here, and an inline split
    in the gram lambda re-split the doc per gram on top): everything
    after the canonical copy is cut. (b) many DISJOINT duplicated
    spans — worst case for span count: exactly the unique gap tokens
    survive, in order. Timings for the 40k-token versions are
    recorded in BENCH_LOCAL_r05 (102.9 s -> 6.1 s / 46.0 s -> 1.6 s)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.dedup import (
        dedup_exact_substrings,
    )

    P = " ".join(f"p{i}" for i in range(8))
    reps = 300
    d1 = spark.createDataFrame(
        [(1, P), (2, " ".join([P] * reps))], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup_exact_substrings(d1, "text", "doc_id").collect()}
    assert out[1].clean_text == P and out[1].n_cut_tokens == 0
    assert out[2].n_cut_tokens == 8 * reps and out[2].clean_text == ""

    k = 150
    parts, gaps = [], []
    for j in range(k):
        gap = " ".join(f"u{j}_{i}" for i in range(4))
        parts += [P, gap]
        gaps.append(gap)
    d2 = spark.createDataFrame(
        [(1, P), (2, " ".join(parts))], "doc_id long, text string"
    )
    out2 = {r.doc_id: r for r in dedup_exact_substrings(d2, "text", "doc_id").collect()}
    assert out2[2].n_cut_tokens == 8 * k
    assert out2[2].clean_text == " ".join(gaps)


def test_domain_cap_and_group_holdout_invariants(spark, sf_dir):
    """domain_cap_sample: every source keeps exactly min(cap, its doc
    count) docs and ranks are a 1..count permutation per source.
    group_holdout_split: a source never straddles splits (the leakage
    guarantee that per-doc splits cannot give)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES

    rows = QUERIES["domain_cap_sample"](spark, sf_dir).collect()
    n = len(rows)
    ns = len({r.source for r in rows})
    cap = max(1, n // (2 * ns))
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        assert sorted(x.src_rank for x in rs) == list(range(1, len(rs) + 1))
        assert sum(x.kept for x in rs) == min(cap, len(rs))

    splits = {}
    for r in QUERIES["group_holdout_split"](spark, sf_dir).collect():
        splits.setdefault(r.source, set()).add(r.split)
    assert all(len(s) == 1 for s in splits.values())
    assert set().union(*splits.values()) <= {"train", "heldout"}


def test_vocab_coverage_monotone_and_ccnet_bucket_order(spark, sf_dir):
    """vocab_coverage: counts non-increasing by rank, cumulative ppm
    strictly increasing and ending at <= 1e6 (floor-division slack).
    ccnet_buckets: within every language, min(head score) >=
    max(middle score) >= ... (NTILE over the score-desc total order),
    and bucket sizes differ by at most 1."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES

    vc = QUERIES["vocab_coverage"](spark, sf_dir).collect()
    assert [r.rank for r in vc] == list(range(1, len(vc) + 1))
    cnts = [r.cnt for r in vc]
    assert cnts == sorted(cnts, reverse=True)
    cums = [r.cum_ppm for r in vc]
    assert cums == sorted(cums) and cums[-1] <= 1_000_000

    cb = QUERIES["ccnet_buckets"](spark, sf_dir).collect()
    by_lang = {}
    for r in cb:
        by_lang.setdefault(r.lang, {}).setdefault(r.bucket, []).append(r.score_fp)
    for lang, buckets in by_lang.items():
        sizes = [len(v) for v in buckets.values()]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        order = ["head", "middle", "tail"]
        present = [b for b in order if b in buckets]
        for a, b in zip(present, present[1:]):
            assert min(buckets[a]) >= max(buckets[b]), (lang, a, b)


def test_grad_match_select_top_k_of_full_ranking(spark, sf_dir):
    """grad_match_select's k rows must be exactly the head of its own
    full ranking (k = corpus size run), with a non-degenerate score
    spread — guards the LIMIT boundary and score arithmetic against
    vacuous all-equal outputs."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.lm import grad_match_select
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    top = grad_match_select(
        docs, F.col("lang") == "en", F.col("doc_id") % 7 == 0, k=20
    ).collect()
    # k = corpus size, NOT a huge constant: TakeOrdered sizes its
    # bounded priority queue at k, so limit(1e9) allocates 1e9 slots
    full = grad_match_select(
        docs, F.col("lang") == "en", F.col("doc_id") % 7 == 0,
        k=int(docs.count()),
    ).collect()
    assert [(r.doc_id, r.score_gm) for r in top] == [
        (r.doc_id, r.score_gm) for r in full[:20]
    ]
    scores = [r.score_gm for r in full]
    assert scores == sorted(scores, reverse=True), [
        (s, i) for i, s in enumerate(scores)
    ]  # desc by construction; tie-broken by doc_id
    assert len({r.score_gm for r in top}) > 1


def test_mmr_select_diversity_and_rank1(spark):
    """on a planted cluster+outlier configuration, pure relevance
    would pick the three near-copies of the query's neighbor; MMR
    (λ=1/2) must pick the redundant copy only once and reach for the
    diverse-but-relevant point instead. Rank-1 is pure relevance
    (mmr_fp == rel_fp) by definition."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import mmr_select

    # id 0 = query. ids 1,2,3 = a tight cluster very similar to the
    # query; id 4 = moderately relevant but orthogonal to the cluster.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.10, 0.0, 0.0]),
        (2, [0.99, 0.11, 0.0, 0.0]),
        (3, [0.99, 0.12, 0.0, 0.0]),
        (4, [0.60, 0.0, 0.80, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_select(df, "embedding", "vec_id", k=3).collect()
    assert [r.sel_rank for r in out] == [1, 2, 3]
    assert out[0].mmr_fp == out[0].rel_fp  # rank 1 = pure relevance
    picked = [r.vec_id for r in out]
    # rank 1 is the most relevant cluster member; rank 2 must be the
    # diverse point (4), not the next cluster near-copy
    assert picked[0] in (1, 2, 3)
    assert picked[1] == 4, picked


def test_mmr_select_k_over_literal_max_raises(spark):
    """mmr_select past _LITERAL_K_MAX (r6 ADVICE): the literal score
    tree would leave the codegen budget, so the call must fail loudly
    instead of silently degrading — and at exactly the cap it must
    still run."""
    import pytest

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import (
        _LITERAL_K_MAX,
        mmr_select,
    )

    rows = [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="_LITERAL_K_MAX"):
        mmr_select(df, "embedding", "vec_id", k=_LITERAL_K_MAX + 1)
    # at the cap (clamped by the 6-row frame) the operator still runs
    out = mmr_select(df, "embedding", "vec_id", k=3).collect()
    assert [r.sel_rank for r in out] == [1, 2, 3]


def test_grad_match_floor_precondition_guard(spark, sf_dir):
    """grad_match_select (r6 ADVICE): the offset-shift floor trick is
    only valid while n*amax + |cc| <= off*2^s_shift; shift settings
    that enter the truncate!=floor window must raise the loud headroom
    error, not silently diverge from the oracle's `//`. Defaults on
    the same corpus stay well inside the precondition."""
    import pytest
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.lm import grad_match_select
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    pos, val = F.col("lang") == "en", F.col("doc_id") % 7 == 0
    # g_shift=0 inflates max|g| ~2^20x: n*amax+|cc| lands far above
    # off*2^s_shift yet far below i64 — the truncate!=floor window the
    # new precondition exists for (raw-overflow checks alone pass)
    with pytest.raises(ValueError, match="headroom exceeded"):
        grad_match_select(docs, pos, val, k=5, s_shift=0, g_shift=0)
    # defaults: runs clean on the identical corpus
    assert grad_match_select(docs, pos, val, k=5).count() == 5


def test_char_gini_flags_degenerate_docs(spark):
    """'aaaa…' scores impurity 0 (flagged); natural text scores high
    (not flagged); num/den match an exact python recount."""
    from collections import Counter

    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES

    texts = {
        1: "aaaaaaaaaaaaaaaaaaaaaaaa",
        2: "the quick brown fox jumps over the lazy dog",
        3: "abababababababab",
    }
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    cc = (
        docs.filter(F.length("text") >= 1)
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
        .collect()
    )
    got = {r.doc_id: (r.n * r.n - r.ss, r.n * r.n) for r in cc}
    for i, t in texts.items():
        n = len(t)
        ss = sum(c * c for c in Counter(t).values())
        assert got[i] == (n * n - ss, n * n), i
    # flag semantics: impurity < 1/2
    assert 2 * got[1][0] < got[1][1]        # all-same: flagged
    assert not (2 * got[2][0] < got[2][1])  # natural text: not flagged
    # two-char alternation sits EXACTLY on the boundary: impurity
    # 1 - 2*(1/4) = 1/2, and the strict < keeps it unflagged — the
    # integer comparison makes the boundary exact, not float-fuzzy
    assert 2 * got[3][0] == got[3][1]
    assert not (2 * got[3][0] < got[3][1])


def test_ngram_novelty_duplicate_doc_adds_nothing(spark):
    """a doc that duplicates an earlier doc verbatim has n_novel = 0;
    the corpus's first doc is all-novel by definition; a half-stitched
    doc is partially novel."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES, register  # noqa: F401
    import pyspark.sql.functions as F
    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import shingles_from_tokens
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import dedup

    a = "one two three four five six seven eight nine ten"
    b = "fresh words appear here that no other document has at all"
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, b)], "doc_id long, text string"
    )
    sh = dedup._toked(docs, "text", "doc_id").select(
        "id",
        F.explode(F.array_distinct(shingles_from_tokens(F.col("_toks"), 5))).alias("gram"),
    )
    fst = sh.groupBy("gram").agg(F.min("id").alias("first_id"))
    per = {
        r.id: (r.n, r.nv)
        for r in sh.join(fst, "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("first_id") == F.col("id"), 1).otherwise(0)).alias("nv"),
        )
        .collect()
    }
    assert per[1][0] == per[1][1] > 0      # first doc: all novel
    assert per[2][0] > 0 and per[2][1] == 0  # verbatim copy: nothing novel
    assert per[3][0] == per[3][1] > 0      # unrelated doc: all novel


def test_governance_gates_invariants(spark, sf_dir):
    """fk_integrity_audit: the generated star schema is referentially
    intact (0 orphans on every edge, child counts == table counts);
    k_anonymity: the size distribution partitions the customer table
    exactly (sum of n_rows == row count, n_groups consistent)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES, load_table

    fk = {r.relationship: r for r in QUERIES["fk_integrity_audit"](spark, sf_dir).collect()}
    assert len(fk) == 7
    assert all(r.n_orphans == 0 for r in fk.values()), {
        k: v.n_orphans for k, v in fk.items()
    }
    li_n = load_table(spark, sf_dir, "lineitem").count()
    assert fk["lineitem->orders"].n_child_rows == li_n

    ka = QUERIES["k_anonymity"](spark, sf_dir).collect()
    cust_n = load_table(spark, sf_dir, "customer").count()
    assert sum(r.n_rows for r in ka) == cust_n
    assert all(r.n_rows == r.group_size * r.n_groups for r in ka)
    assert all(r.below_k5 == (r.group_size < 5) for r in ka)


def test_ntile_boundary_values_matches_ntile(spark):
    """ntile_score_expr over ntile_boundary_values literals must equal
    F.ntile over the global (value, key) window bit-for-bit — tie-heavy
    values, several k, and the n < k degenerate case."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.quantiles import (
        ntile_boundary_values,
        ntile_score_expr,
    )

    df = spark.range(0, 997).select(
        ((F.col("id") * F.col("id")) % 53 + 1).alias("v"),
        F.col("id").alias("key"),
    )
    for k in (4, 10, 31):
        bounds = ntile_boundary_values(df, [("v", "key", k)])["v"]
        assert len(bounds) == k - 1
        got = df.select(
            "key", ntile_score_expr(bounds, F.col("v"), F.col("key")).alias("b")
        )
        exp = df.select(
            "key",
            F.ntile(k).over(Window.orderBy("v", "key")).cast("long").alias("b"),
        )
        assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    tiny = spark.range(0, 3).select(
        F.lit(7).cast("long").alias("v"), F.col("id").alias("key")
    )
    bounds = ntile_boundary_values(tiny, [("v", "key", 10)])["v"]
    assert len(bounds) == 2  # ranks 1, 2 exist; ranks >= n select no row
    got = sorted(
        (r.key, r.b)
        for r in tiny.select(
            "key", ntile_score_expr(bounds, F.col("v"), F.col("key")).alias("b")
        ).collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_ntile_boundary_values_guards(spark):
    """the r8 ADVICE guards: duplicate value_cols raise (the result
    dict would silently merge boundary lists), and a non-positive
    proxy raises (a negative long's 64-char bin() aliases into the
    63-bit positive octave and would silently mis-bin)."""
    import pytest
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.quantiles import (
        ntile_boundary_values,
    )

    df = spark.range(1, 100).select(
        F.col("id").alias("v"), F.col("id").alias("key")
    )
    with pytest.raises(ValueError, match="duplicate value_col"):
        ntile_boundary_values(df, [("v", "key", 4), ("v", "key", 10)])

    neg = spark.range(0, 100).select(
        (F.col("id") - 50).alias("v"), F.col("id").alias("key")
    )
    with pytest.raises(ValueError, match="strictly-positive"):
        ntile_boundary_values(neg, [("v", "key", 4)])


def test_ntile_boundary_refinement_still_exact(spark):
    """forcing target_bucket_rows below every bucket count makes the
    Munro-Paterson refinement loop fire; boundaries must not change."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.quantiles import (
        ntile_boundary_values,
    )

    df = spark.range(0, 500).select(
        # one hot octave: values 2048..2303 all share the top-11-bit
        # grid only partially — plus heavy ties
        (F.col("id") % 256 + 2048).alias("v"),
        F.col("id").alias("key"),
    )
    plain = ntile_boundary_values(df, [("v", "key", 4)])["v"]
    refined = ntile_boundary_values(
        df, [("v", "key", 4)], target_bucket_rows=3
    )["v"]
    assert plain == refined


def test_within_cluster_cosine_pairs_bitwise_matches_jvm_fold(spark, sf_dir):
    """r9 optimization gate: the grouped numpy pair scorer must be
    BITWISE equal to the zip_with/aggregate Column expression it
    replaced in semantic_dedup — same pair set, same cos_sim doubles
    (the oracle hash depends on every bit)."""
    import struct

    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.functions import vectors as V
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import (
        assign_clusters,
        kmeans,
        within_cluster_cosine_pairs,
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_cells = min(256, max(16, emb.count() // 128))
    _, cents = kmeans(emb, "embedding", "vec_id", k=n_cells, max_iter=2)
    av = assign_clusters(emb, "embedding", "vec_id", cents)
    new = within_cluster_cosine_pairs(av).orderBy("id_a", "id_b").collect()

    vj = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    ).join(av.select("id", "cluster"), "id")
    a = vj.select(
        F.col("id").alias("id_a"), F.col("vec").alias("va"), "cluster",
        V.norm(F.col("vec")).alias("na"),
    )
    b = vj.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vb"), "cluster",
        V.norm(F.col("vec")).alias("nb"),
    )
    old = (
        a.join(b, ["cluster"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos_sim"
            ),
        )
        .orderBy("id_a", "id_b")
        .collect()
    )
    assert len(new) == len(old) and len(new) > 0
    for rn, ro in zip(new, old):
        assert (rn.id_a, rn.id_b) == (ro.id_a, ro.id_b)
        assert struct.pack("<d", rn.cos_sim) == struct.pack("<d", ro.cos_sim)
