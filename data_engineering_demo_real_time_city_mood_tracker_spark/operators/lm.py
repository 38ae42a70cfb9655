"""Corpus language-model scoring in portable fixed-point arithmetic —
the two data-selection stages a pretraining pipeline runs after dedup:

- **bigram LM fluency scoring** (the CCNet recipe, Wenzek et al. 2020:
  score every document with a small LM trained on the corpus, keep the
  fluent head). The classical filter scores perplexity under a 5-gram
  KenLM; the distributed analog here trains a bigram model ON the
  corpus itself (counts are two map-side-combining aggregations) and
  scores each document by its mean conditional bigram probability.
- **hashed importance resampling** (the DSIR recipe, Xie et al. 2023:
  weight every document by target-vs-source likelihood ratio under
  hashed n-gram features, then resample). Features hash into a
  fixed-width bucket table, so the "model" is B rows at ANY corpus
  size; the selection keeps the top documents by quantized ratio
  score.

Both stay bitwise oracle-portable by never touching floats: log-space
scoring is the textbook formulation, but ln() is not IEEE-pinned
across engines (memory: ln/pow are NOT portable), so probabilities are
quantized to integers once — ``(scale * num) div den`` on BIGINTs,
floor division, no rounding rule to disagree on — and every downstream
step is exact integer SUM / floor-div. Monotonicity with the float
score is preserved at ``scale`` resolution, which is what a
keep/drop filter consumes.

Scale shape (100 TB): everything is explode → map-side-combining
groupBy. The bigram count table is vocab²-bounded and joins back to
per-doc partials on (w1, w2) — hot stop-word bigrams are exactly the
AQE skew-join case, and partial aggregation absorbs them in the count
phase. The DSIR bucket table is B-bounded by construction (a count
table, NOT a candidate-pair generator — fixed B here is not the
fixed-width quadratic trap that bit r3's pair-family ops, because no
doc×doc join ever happens); it broadcasts at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import hex4, tokens
from data_engineering_demo_real_time_city_mood_tracker_spark.functions.vectors import array_sql, i64_sql
from data_engineering_demo_real_time_city_mood_tracker_spark.operators.dedup import _toked
from data_engineering_demo_real_time_city_mood_tracker_spark.session import release_after, spread

# Quantization scale for conditional probabilities / likelihood
# ratios (every ratio is ≤ 1, so quantized values are ≤ scale and a
# 1e6-token document's score sum stays ≤ 1e15). The BIGINT headroom
# bound lives in the NUMERATOR products: scale * (count + 1) must stay
# under 2^63, i.e. count < 9.2e18 / scale — at scale=1e9 that is 9.2e9
# occurrences of one bigram / one hash bucket, comfortable for the
# registered corpora but NOT for a 100 TB run (~25 T tokens: a top
# stop-word bigram reaches ~1e11, an average 4096-bucket count ~6e9).
# At that scale pass scale=1e6 — headroom to 9.2e12 occurrences, and
# 1e-6 resolution is far finer than a keep/drop threshold needs.
FP_SCALE = 10**9


def doc_bigram_counts(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, [carry...], w1, w2, c) — per-document counts of adjacent
    token pairs.

    One tokenize pass: the pair array is built inline inside the
    explode from the bound ``_toks`` projection (the Generate-inlines-
    its-child hazard documented at dedup._shingle_arrays), and every
    downstream statistic — the bigram table, the left-context totals,
    the per-doc scores — derives from THIS frame, the same
    partials-reuse trick tfidf_topk uses for tf/df. ``carry`` columns
    (functionally dependent on the id, e.g. lang) ride the group keys
    at zero extra shuffle cost so callers never need a corpus-sized
    join to re-attach them.
    """
    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import tokens as _tokens

    pairs = F.expr(
        "transform(slice(_toks, 1, size(_toks) - 1),"
        " (x, i) -> struct(x AS w1, _toks[i + 1] AS w2))"
    )
    base = spread(docs).select(
        F.col(id_col).alias("id"), *carry, _tokens(F.col(text_col)).alias("_toks")
    )
    return (
        base.select("id", *carry, F.explode(pairs).alias("p"))
        .select("id", *carry, "p.w1", "p.w2")
        .groupBy("id", *carry, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def bigram_model(dbc: DataFrame, scale: int = FP_SCALE) -> DataFrame:
    """(w1, w2, cond_fp) — quantized Laplace-smoothed conditional
    probability table: cond_fp = (scale * (c(w1,w2) + 1)) div
    (c(w1·) + V) as exact BIGINT floor division, V = left-context
    vocabulary size. Unsmoothed conditionals are a trap for a
    SELF-trained LM: a singleton context has probability 1 by
    construction, so one-off gibberish bigrams would score as
    maximally fluent (caught by test_bigram_lm_scores_fluent_docs_
    higher); add-one smoothing makes rare contexts cheap and frequent
    corpus patterns expensive to beat, which is the signal the filter
    wants. The left-context totals AND the vocabulary size derive from
    the bigram partials (vocab²-sized) instead of re-scanning the
    corpus; V rides a 1-row cross join, never a driver action.
    """
    # No persist (r4 ADVICE): lft is an aggregation, so each of its
    # references sits above the SAME Exchange subtree and ReuseExchange
    # dedups the work within the consumer's one action — measured at
    # parity with a persist at sf0.1, and a persist would sit in the
    # CacheManager forever (the ContextCleaner never reclaims SQL
    # caches, only unreferenced RDDs/broadcasts).
    bg = dbc.groupBy("w1", "w2").agg(F.sum("c").alias("cb"))
    lft = bg.groupBy("w1").agg(F.sum("cb").alias("c1"))
    vcnt = lft.agg(F.count(F.lit(1)).alias("v"))
    return (
        bg.join(lft, "w1")
        .crossJoin(vcnt)
        .select("w1", "w2", F.expr(f"({scale} * (cb + 1)) div (c1 + v)").alias("cond_fp"))
    )


def score_bigram_lm(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    scale: int = FP_SCALE,
                    carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, [carry...], n_bigrams, score_fp) — mean conditional bigram
    probability of each document under the corpus bigram LM, quantized
    at ``scale``. Higher = more fluent relative to the corpus; the
    CCNet-style filter is ``score_fp >= threshold`` with the threshold
    picked by quantile (see operators/quantiles.exact_quantiles).

    Documents with < 2 tokens have no bigrams and are absent from the
    output (they carry no LM evidence either way).

    Cache discipline (r4 ADVICE): NOTHING persists. dbc is an
    aggregation, so its three references (the model's counts, the
    left-context totals, the scoring join) all reuse one Exchange
    subtree within the consumer's single action — measured at parity
    with the persist this replaces, which would have sat in the
    CacheManager until explicit unpersist (the ContextCleaner never
    reclaims SQL caches).
    """
    dbc = doc_bigram_counts(docs, text_col, id_col, carry)
    model = bigram_model(dbc, scale)
    return (
        dbc.join(model, ["w1", "w2"])
        .groupBy("id", *carry)
        .agg(
            F.sum(F.col("c") * F.col("cond_fp")).alias("s"),
            F.sum("c").alias("nb"),
        )
        .select(
            F.col("id").alias("doc_id"),
            *carry,
            F.col("nb").cast("long").alias("n_bigrams"),
            F.expr("s div nb").cast("long").alias("score_fp"),
        )
    )


def _target_tokens(docs: DataFrame, is_target, text_col: str, id_col: str) -> DataFrame:
    """(id, _tgt, token): one row per token occurrence, each carrying
    its document's target flag — the DSIR tokenize pass."""
    toked = (
        docs.withColumn("_tgt", is_target)
        .select(F.col(id_col).alias("id"), "_tgt", F.col(text_col).alias("_txt"))
    )
    return (
        spread(toked)
        .select("id", "_tgt", tokens(F.col("_txt")).alias("_toks"))
        .select("id", "_tgt", F.explode("_toks").alias("token"))
    )


def dsir_scores(docs: DataFrame, is_target, text_col: str = "text",
                id_col: str = "doc_id", n_buckets: int = 4096,
                scale: int = FP_SCALE) -> DataFrame:
    """(doc_id, n_tokens, score_fp) — hashed-unigram importance score
    of every document: mean over its token occurrences of the
    quantized target/source frequency ratio
    ``(scale * (tgt_b + 1)) div (src_b + 1)`` (add-one smoothed) where
    ``b = md5-bucket(token) mod n_buckets``. ``is_target`` is a boolean
    Column over ``docs`` marking the target-distribution exemplars.

    One tokenize pass: per-doc bucket counts are shared partials
    (Exchange reuse); target and source bucket totals both derive
    from them.
    The ratio table is exactly ``n_buckets`` rows no matter the corpus
    — it is force-broadcast deliberately (bounded by construction,
    unlike the unbounded stats frame the r3 advice flagged in
    exact_quantiles).
    """
    tok = _target_tokens(docs, is_target, text_col, id_col)
    b = hex4(F.md5(F.col("token")), 1, n_buckets)
    # No persist (r4 ADVICE): tb is an aggregation — its three
    # references (source totals, target totals, the scoring join)
    # reuse one Exchange subtree within the single consumer action;
    # see score_bigram_lm's cache-discipline note.
    tb = (
        tok.select("id", "_tgt", b.alias("b"))
        .groupBy("id", "_tgt", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    src = tb.groupBy("b").agg(F.sum("c").alias("sc"))
    tgt = tb.filter("_tgt").groupBy("b").agg(F.sum("c").alias("tc"))
    w = src.join(tgt, "b", "left").select(
        "b",
        F.expr(f"({scale} * (coalesce(tc, CAST(0 AS BIGINT)) + 1)) div (sc + 1)").alias("w_fp"),
    )
    return (
        tb.join(F.broadcast(w), "b")
        .groupBy("id")
        .agg(
            F.sum(F.col("c") * F.col("w_fp")).alias("s"),
            F.sum("c").alias("nt"),
        )
        .select(
            F.col("id").alias("doc_id"),
            F.col("nt").cast("long").alias("n_tokens"),
            F.expr("s div nt").cast("long").alias("score_fp"),
        )
    )


def dsir_weight_table(docs: DataFrame, is_target, text_col: str = "text",
                      id_col: str = "doc_id", n_buckets: int = 4096,
                      scale: int = FP_SCALE) -> dict[int, int]:
    """{bucket -> quantized importance weight} — the TRAINED state of
    the DSIR scorer as a driver-side dict (exactly ``n_buckets``
    bounded rows at any corpus size), for the serve side of the
    train-daily / score-the-crawl loop: streaming/scoring.py's
    dsir_score_expr ships it as one literal array and scores arriving
    documents statelessly, bitwise-equal to dsir_scores on the same
    docs. Unseen buckets smooth to (scale * 1) div (0 + 1) = scale,
    matching the batch LEFT-join smoothing for a bucket with no source
    occurrences."""
    tok = _target_tokens(docs, is_target, text_col, id_col)
    b = hex4(F.md5(F.col("token")), 1, n_buckets)
    tb = tok.select("_tgt", b.alias("b"))
    agg = (
        tb.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("sc"),
            F.sum(F.col("_tgt").cast("long")).alias("tc"),
        )
        .collect()
    )
    w = {int(r.b): (scale * ((r.tc or 0) + 1)) // (r.sc + 1) for r in agg}
    for bb in range(n_buckets):
        w.setdefault(bb, scale)  # never-seen bucket: (0+1)/(0+1)
    return w


def dsir_sample(docs: DataFrame, is_target, keep_frac_denom: int = 4,
                text_col: str = "text", id_col: str = "doc_id",
                n_buckets: int = 4096, scale: int = FP_SCALE) -> DataFrame:
    """Top-(n/keep_frac_denom) documents by DSIR importance score,
    deterministically tie-broken by doc_id (total order, so the LIMIT
    boundary is engine-independent). The top-k itself is a
    TakeOrdered — per-partition heaps, no global sort."""
    n_docs = docs.count()
    m = max(1, n_docs // keep_frac_denom)
    return (
        dsir_scores(docs, is_target, text_col, id_col, n_buckets, scale)
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(m)
    )


# --------------------------------------------------------------------------
# fasttext-style quality probe: a hashed-feature linear classifier
# trained BY SPARK with fixed-round full-batch gradient descent — the
# third classic selection stage (GPT-3 / Llama curation trains a linear
# classifier on curated positives and scores all of Common Crawl;
# Brown et al. 2020 appendix A, Touvron et al. 2023 §2).
#
# The probe regresses CENTERED labels on CENTERED features — without
# centering, full-batch GD spends its few rounds fitting the document-
# length direction (the dominant eigenvector of binary presence
# features) and learns no label signal (measured: AUC 0.49 after 10
# uncentered rounds vs 0.63 after 3 centered rounds on the sf0.01
# corpus). Centering never materializes a dense matrix: a centered
# score is the sparse score minus ONE scalar (sum_b w_b*cnt_b/n), and
# a centered gradient is the sparse gradient minus cnt_b*(sum resid)/n
# — bounded scalar corrections, applied driver-side.
#
# The learning rate is 1/trace(C^T C) with the trace computed EXACTLY
# in integers from the bucket counts: trace = sum_b (cnt_b -
# cnt_b^2/n) >= lambda_max, so descent is provably monotone yet the
# step adapts to the corpus (measured 4.4x larger than the worst-case
# n*B/4 bound at sf0.01).

# Weight/label scale. 1e6 keeps gradient products in BIGINT to
# n ~ 1e11 docs (see train_quality_probe's bound note).
QC_SCALE = 10**6
# Offset making floor-division portable on SIGNED numerators: DuckDB's
# `//` truncates toward zero on negatives while Python's `//` floors,
# so the oracle computes ((num + OFF*den) // den) - OFF in HUGEINT —
# numerator forced nonnegative, where trunc == floor. 2^40 exceeds
# every |num|/den this trainer produces: |sum w*cnt|/n <= B*max|w|
# ~ 1e9, |cnt*sum_resid|/n < n (needs n <= 1e12), |grad|/trace ~ 1e7.
# Python needs no offset (its // already floors); Spark never
# floor-divides a signed value executor-side in this operator.
QC_PDIV_OFF = 1 << 40


def hashed_presence_features(docs: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             n_buckets: int = 256) -> DataFrame:
    """(id, b) — binary hashed-unigram presence features (md5 bucket
    mod ``n_buckets``, the dsir hex4 idiom) plus a sentinel row
    ``b = -1`` on every document. The sentinel carries weight 0
    forever; its "gradient" is sum_i resid_i, so the scalar centering
    correction rides the same single per-round collect as the real
    per-bucket gradients — no second aggregation in either engine."""
    tok = (
        _toked(docs, text_col, id_col)
        .select("id", F.explode("_toks").alias("token"))
    )
    b = hex4(F.md5(F.col("token")), 1, n_buckets)
    feats = tok.select("id", b.alias("b")).distinct()
    sentinel = docs.select(
        F.col(id_col).alias("id"), F.lit(-1).cast("long").alias("b")
    )
    return feats.unionByName(sentinel)


def _qc_weight_expr(w: dict[int, int], n_buckets: int):
    """score contribution of feature row ``b`` under the current
    weights — the (B+1)-long weight vector rides the plan as ONE
    parsed literal array (functions.vectors.array_sql; the b = -1
    sentinel maps to index 1, pinned 0, so it never scores)."""
    arr = array_sql([w[b] for b in range(-1, n_buckets)], i64_sql)
    return F.expr(f"element_at({arr}, cast(b as int) + 2)")


def train_quality_probe(docs: DataFrame, is_positive, text_col: str = "text",
                        id_col: str = "doc_id", n_buckets: int = 256,
                        rounds: int = 3, scale: int = QC_SCALE):
    """Fixed-round full-batch GD on the centered least-squares probe
    ``min_w sum_i ((x_i - mu) . w - (y_i - ybar))^2`` over binary
    hashed features, entirely in integer arithmetic — returns a
    4-tuple-compatible ``_ProbeFit(weights, kc, feats, ydf)``:
    ``weights`` a {-1..B-1} -> BIGINT dict (sentinel -1 pinned 0),
    ``kc`` the final centering scalar (``score_i = sum_{b in i} w_b -
    kc``), the persisted frames, plus ``.n/.npos/.cnt`` corpus stats
    so selectors built on the fit don't re-run the trainer's count
    jobs.
    The CALLER owns releasing ``feats``/``ydf`` (unpersist them after
    the last downstream action — quality_probe_topk does it via
    release_after): persisted frames sit in the CacheManager until
    explicitly unpersisted, never reclaimed by the ContextCleaner.

    Per round, over the persisted sparse feature table: one score
    aggregation (weights as plan literals), one gradient aggregation
    (join back on id, groupBy b), ONE driver collect of <= B+1 rows
    (the b = -1 sentinel row doubles as sum-of-residuals). Centering
    corrections are scalars computed on the driver from the bounded
    count/weight tables; the data is never collected and never
    densified.

    Exactness: every per-doc/per-bucket quantity is an exact BIGINT
    sum; the only rounding is floor-division at the documented
    points, where Python's ``//`` (floor) matches the oracle's
    offset-shifted ``//`` (QC_PDIV_OFF). Integer headroom:
    |resid| <= a few * scale, |grad| <= n * max|resid| — BIGINT-safe
    to n ~ 1e11 docs at the default scale; at 100 TB pass scale=1e4.

    Zero-feature documents (NULL text — split of an empty STRING
    yields [''] in both engines, so only NULL tokenizes to nothing)
    still train here: their feature row set is just the sentinel
    (x = the zero vector is a legitimate centered-LS example,
    resid = -kc - (y*scale - ybar)). The SQL oracle mirrors this
    exactly (r6, closing the r5-documented boundary): its `f` CTE
    carries the same per-doc b = -1 sentinel rows, its score CTEs
    LEFT-join the weights so sentinel-only docs get sw = 0, and
    `cntc` filters b >= 0 like the engine's cnt dict — hash gates
    are exact on ANY corpus, planted-empty-doc parity test-asserted
    (tests/test_oracle_parity.py::test_probe_gates_exact_on_empty_docs).
    """
    # both frames are cached PRE-PARTITIONED on id: every round's
    # score agg (groupBy id), label join and gradient join-back then
    # reuse the cached HashPartitioning and the only per-round
    # exchange left is the B-bounded groupBy(b) — 3 corpus shuffles
    # per round down to 1 (measured 4.8 -> 3.4 s at sf0.1)
    ydf = docs.select(
        F.col(id_col).alias("id"), is_positive.cast("long").alias("y")
    ).repartition("id").persist()
    feats = (
        hashed_presence_features(docs, text_col, id_col, n_buckets)
        .repartition("id")
        .persist()
    )
    # one job for both corpus scalars (count + label sum) — they were
    # two serial actions over the same cached frame
    _nrow = ydf.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("npos")
    ).collect()[0]
    n = _nrow["n"]
    npos = _nrow["npos"] or 0
    cnt = {
        r.b: r.c
        for r in feats.filter("b >= 0").groupBy("b").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()
    }
    # exact integer trace of the centered Gram matrix — the provably
    # safe, corpus-adaptive step size (lambda_max <= trace)
    trace = max(sum(c - (c * c) // n for c in cnt.values()), 1)
    ybar = (scale * npos) // n
    w = {b: 0 for b in range(-1, n_buckets)}
    kc = 0
    for _ in range(rounds):
        kc = sum(w[b] * c for b, c in cnt.items()) // n
        sw = (
            feats.groupBy("id")
            .agg(F.sum(_qc_weight_expr(w, n_buckets)).alias("sw"))
        )
        resid = ydf.join(sw, "id").select(
            "id",
            (
                F.col("sw") - F.lit(kc)
                - (F.col("y") * F.lit(scale) - F.lit(ybar))
            ).alias("resid"),
        )
        grads = {
            r.b: r.g
            for r in feats.join(resid, "id")
            .groupBy("b")
            .agg(F.sum("resid").alias("g"))
            .collect()
        }
        sum_resid = grads.get(-1, 0)  # the sentinel row IS sum_i resid_i
        for b in range(n_buckets):
            gadj = grads.get(b, 0) - (cnt.get(b, 0) * sum_resid) // n
            w[b] = w[b] - gadj // trace
    kc = sum(w[b] * c for b, c in cnt.items()) // n
    return _ProbeFit(w, kc, feats, ydf, n, npos, cnt)


class _ProbeFit(tuple):
    """train_quality_probe's result: unpacks as the documented 4-tuple
    (w, kc, feats, ydf) for existing callers, while carrying the
    trainer's already-computed corpus stats (n, npos, cnt) so
    downstream selectors (grad_match_select) don't re-run the count /
    label-sum / bucket-count jobs the trainer just paid for."""

    def __new__(cls, w, kc, feats, ydf, n, npos, cnt):
        self = super().__new__(cls, (w, kc, feats, ydf))
        self.n, self.npos, self.cnt = n, npos, cnt
        return self


def quality_probe_topk(docs: DataFrame, is_positive, k: int = 20,
                       text_col: str = "text", id_col: str = "doc_id",
                       n_buckets: int = 256, rounds: int = 3,
                       scale: int = QC_SCALE) -> DataFrame:
    """(doc_id, is_pos, score_fp) — the k documents the trained probe
    scores most positive-like (centered score, quantized at ``scale``),
    doc_id tiebreak (total order). The closing step of the GPT-3-style
    curation recipe: train on labeled exemplars, score the whole
    corpus, keep the head."""
    w, kc, feats, ydf = train_quality_probe(
        docs, is_positive, text_col, id_col, n_buckets, rounds, scale
    )
    sw = (
        feats.groupBy("id")
        .agg((F.sum(_qc_weight_expr(w, n_buckets)) - F.lit(kc)).alias("score_fp"))
    )
    out = (
        ydf.join(sw, "id")
        .select(
            F.col("id").alias("doc_id"),
            F.col("y").cast("long").alias("is_pos"),
            F.col("score_fp").cast("long").alias("score_fp"),
        )
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(k)
    )
    # k rows: checkpoint the result eagerly and release the trainer's
    # feature/label caches — CacheManager never reclaims them otherwise
    return release_after(out, feats, ydf)


def grad_match_select(docs: DataFrame, is_positive, is_val, k: int = 20,
                      text_col: str = "text", id_col: str = "doc_id",
                      n_buckets: int = 256, rounds: int = 3,
                      scale: int = QC_SCALE, g_shift: int = 20,
                      s_shift: int = 20) -> DataFrame:
    """(doc_id, score_gm) — LESS-style gradient-matching selection
    (Xia et al. 2024 "LESS: Selecting Influential Data for Targeted
    Instruction Tuning"; the TracIn/influence-function family): after
    training the quality probe, keep the k documents whose per-example
    gradient best ALIGNS with the validation slice's aggregate
    gradient — one GD step on such a doc reduces validation loss the
    most (Δval_loss ≈ −η⟨g_i, g_val⟩).

    Entirely exact integer arithmetic, so the whole chain — trainer,
    residuals, validation gradient, per-doc alignment — is
    oracle-portable. For the centered probe, g_i = resid_i·(x_i − μ)
    and the n²-scaled alignment factorizes to

        n²·⟨g_i, g_val⟩ = resid_i · (n·Σ_{b∈x_i} G_b − Σ_b cnt_b·G_b),
        G_b = n·V_b − cnt_b·SV,

    with V_b = Σ_{j∈val} resid_j·x_jb and SV = Σ_{j∈val} resid_j —
    every term an exact integer from bounded aggregations (V is
    B-rows, SV a scalar). Two floor-div rescales keep BIGINT headroom
    (G_b >> g_shift driver-side in Python — floor, matching the
    oracle's offset-shifted //; the per-doc factor >> s_shift as an
    offset-shifted Spark `div`, trunc == floor on the shifted
    nonnegative numerator). Headroom: |score| ≲ n²·B·scale² /
    2^(g_shift+s_shift) — BIGINT-safe to n ~ 1e6 docs at the
    defaults; raise the shifts at larger corpora (resolution loss is
    irrelevant to a top-k rank).

    Scale shape: everything after the trainer is one id-keyed join of
    B-bounded literals plus one ≤(B+1)-row collect; no corpus
    self-join, no new tokenize pass (the trainer's cached feature
    table feeds every aggregate). All caches released on return."""
    fit = train_quality_probe(
        docs, is_positive, text_col, id_col, n_buckets, rounds, scale
    )
    w, kc, feats, ydf = fit
    # corpus stats ride the trainer's result — re-running the count /
    # label-sum / bucket-count jobs here cost 3 extra jobs (~0.9 s at
    # bench SF) for numbers the trainer already collected
    n, npos, cnt = fit.n, fit.npos, fit.cnt
    ybar = (scale * npos) // n
    sw = feats.groupBy("id").agg(
        F.sum(_qc_weight_expr(w, n_buckets)).alias("sw")
    )
    resid = (
        ydf.join(sw, "id")
        .select(
            "id",
            (
                F.col("sw") - F.lit(kc)
                - (F.col("y") * F.lit(scale) - F.lit(ybar))
            ).alias("resid"),
        )
        .persist()
    )
    vres = resid.join(
        docs.filter(is_val).select(F.col(id_col).alias("id")), "id"
    )
    # ONE ≤(B+1)-row collect: the b = -1 sentinel (present on every
    # doc's feature rows) sums to SV = Σ_{j∈val} resid_j in the same
    # aggregation that produces the per-bucket V_b — the trainer's own
    # sentinel trick, saving the separate SV job
    vb = {
        r.b: r.v
        for r in feats.join(vres, "id")
        .groupBy("b")
        .agg(F.sum("resid").alias("v"))
        .collect()
    }
    sv = vb.pop(-1, 0) or 0
    # Python // floors — identical to the oracle's offset-shifted //
    # (exact big-int arithmetic on both sides, any magnitude)
    g = {
        b: (n * vb.get(b, 0) - cnt.get(b, 0) * sv) // (1 << g_shift)
        for b in range(n_buckets)
    }
    g[-1] = 0  # sentinel never scores
    cc = sum(cnt.get(b, 0) * g[b] for b in range(n_buckets))
    ai = (
        feats.filter("b >= 0")
        .groupBy("id")
        .agg(F.sum(_qc_weight_expr(g, n_buckets)).alias("a"))
    )
    off = 1 << 40
    # Loud overflow guard (r5 ADVICE), mirroring kcenter_select's
    # qbound check — every bound is driver-known because the feature
    # rows are BINARY per-(id, bucket): |a| <= B*max|g|, |resid| <=
    # B*max|w| + |kc| + scale + |ybar|. Past ~1e6 docs at the default
    # shifts the BIGINT arithmetic (ANSI off) would wrap silently and
    # CAST(cc) would go NULL past int64; fail loudly with the
    # documented escape hatch instead.
    i64 = 2**63 - 1
    amax = n_buckets * max((abs(v) for v in g.values()), default=0)
    rbound = (
        n_buckets * max((abs(v) for v in w.values()), default=0)
        + abs(kc) + scale + abs(ybar)
    )
    fbound = (n * amax + abs(cc)) // (1 << s_shift) + 1
    # `div` truncates toward zero; the +off*2^s_shift offset makes
    # every numerator nonnegative (truncate == floor) ONLY while
    # n*amax + |cc| <= off*2^s_shift — enforce that precondition
    # explicitly (r6 ADVICE), not just the raw int64 headroom: in the
    # window (off*2^s_shift, i64 - off*2^s_shift) nothing wraps but
    # negative numerators would truncate instead of floor and silently
    # diverge from the oracle's `//`.
    if (
        abs(cc) > i64
        or n * amax + abs(cc) > off * (1 << s_shift)
        or n * amax + abs(cc) + off * (1 << s_shift) > i64
        or rbound * fbound > i64
    ):
        for frame in (feats, ydf, resid):
            frame.unpersist()
        raise ValueError(
            "grad_match_select: BIGINT headroom exceeded at n="
            f"{n}, max|g|={amax // max(n_buckets, 1)}, cc={cc} "
            f"(g_shift={g_shift}, s_shift={s_shift}) — the factor "
            "arithmetic would wrap silently; raise g_shift/s_shift "
            "(resolution loss is irrelevant to a top-k rank)"
        )
    factor = F.expr(
        f"((CAST({n} AS BIGINT) * a - CAST({cc} AS BIGINT)"
        f" + CAST({off} AS BIGINT) * CAST({1 << s_shift} AS BIGINT))"
        f" div CAST({1 << s_shift} AS BIGINT)) - CAST({off} AS BIGINT)"
    )
    out = (
        resid.join(ai, "id")
        .select(
            F.col("id").alias("doc_id"),
            (F.col("resid") * factor).cast("long").alias("score_gm"),
        )
        .orderBy(F.col("score_gm").desc(), "doc_id")
        .limit(k)
    )
    return release_after(out, feats, ydf, resid)


def moore_lewis_scores(docs: DataFrame, is_target, text_col: str = "text",
                       id_col: str = "doc_id",
                       scale: int = FP_SCALE) -> DataFrame:
    """(doc_id, n_bigrams, delta_fp) — Moore-Lewis cross-entropy-
    difference selection (Moore & Lewis 2010; the modern excess-loss /
    RHO-1 framing scores with two LMs the same way): every document's
    mean conditional bigram probability under the IN-DOMAIN model
    (trained on the ``is_target`` exemplars) minus under the GENERAL
    model (trained on the whole corpus), both Laplace-smoothed and
    quantized (ln() isn't IEEE-pinned; integer floor-div is). High
    delta = looks like the target domain AND not merely generic.

    One tokenize pass: both models and the scoring derive from the
    shared per-doc bigram partials. Bigrams unseen by the target
    model smooth to scale/(0 + V_t) via the LEFT joins — the
    GREATEST(V_t, 1) guard only matters for an empty target slice and
    is mirrored in the oracle. Both model tables are vocab²-bounded at
    any corpus size; the scoring join is the AQE-skew-join shape
    documented for bigram_lm_score. Docs with < 2 tokens carry no LM
    evidence and are absent, as in score_bigram_lm."""
    # The persists live for exactly ONE materialization — the eager
    # checkpoint below — then release (r4 ADVICE: SQL caches leak in
    # the CacheManager until explicit unpersist). Dropping them for
    # Exchange reuse was measured +30% here (five dbc references across
    # two model derivations defeat reuse in this shape), unlike
    # score_bigram_lm/dsir where reuse is at parity.
    dbc = doc_bigram_counts(docs, text_col, id_col).persist()
    tgt_ids = docs.filter(is_target).select(F.col(id_col).alias("id"))
    sbg = dbc.groupBy("w1", "w2").agg(F.sum("c").alias("scb"))
    slft = sbg.groupBy("w1").agg(F.sum("scb").alias("sc1")).persist()
    sv = slft.agg(F.count(F.lit(1)).alias("sv"))
    tdbc = dbc.join(tgt_ids, "id")
    tbg = tdbc.groupBy("w1", "w2").agg(F.sum("c").alias("tcb"))
    tlft = tbg.groupBy("w1").agg(F.sum("tcb").alias("tc1")).persist()
    tv = tlft.agg(F.count(F.lit(1)).alias("tv"))
    out = (
        dbc.join(sbg, ["w1", "w2"])
        .join(slft, "w1")
        .join(tbg, ["w1", "w2"], "left")
        .join(tlft, "w1", "left")
        .crossJoin(sv)
        .crossJoin(tv)
        .select(
            "id",
            "c",
            F.expr(f"({scale} * (scb + 1)) div (sc1 + sv)").alias("conds"),
            F.expr(
                f"({scale} * (coalesce(tcb, CAST(0 AS BIGINT)) + 1))"
                " div (coalesce(tc1, CAST(0 AS BIGINT)) + greatest(tv, 1))"
            ).alias("condt"),
        )
        .groupBy("id")
        .agg(
            F.sum(F.col("c") * F.col("condt")).alias("st"),
            F.sum(F.col("c") * F.col("conds")).alias("ss"),
            F.sum("c").alias("nb"),
        )
        .select(
            F.col("id").alias("doc_id"),
            F.col("nb").cast("long").alias("n_bigrams"),
            (F.expr("st div nb") - F.expr("ss div nb"))
            .cast("long")
            .alias("delta_fp"),
        )
        # eager checkpoint (3 longs/doc, RDD storage the ContextCleaner
        # CAN reclaim) — moore_lewis_select runs TWO actions (the LIMIT
        # count, then the TakeOrdered) and both read this one
        # materialization; a persist here would leak in the CacheManager
        .localCheckpoint(eager=True)
    )
    for c in (dbc, slft, tlft):
        c.unpersist()
    return out


def moore_lewis_select(docs: DataFrame, is_target, keep_frac_denom: int = 4,
                       text_col: str = "text", id_col: str = "doc_id",
                       scale: int = FP_SCALE) -> DataFrame:
    """Top-(scored/keep_frac_denom) documents by cross-entropy
    difference, doc_id tiebreak (total order — engine-independent
    LIMIT boundary); the keep count is over SCORED docs (>= 2 tokens),
    matching the oracle's COUNT(DISTINCT id) over the bigram
    partials (one row per scored doc == one scored frame row). The
    scored frame arrives eagerly checkpointed from moore_lewis_scores,
    so the count and the TakeOrdered read one materialization — a
    second doc_bigram_counts() here would be a fresh lineage and
    re-tokenize the whole corpus — and no cache outlives the call."""
    scored = moore_lewis_scores(docs, is_target, text_col, id_col, scale)
    m = max(1, scored.count() // keep_frac_denom)
    return scored.orderBy(F.col("delta_fp").desc(), "doc_id").limit(m)
