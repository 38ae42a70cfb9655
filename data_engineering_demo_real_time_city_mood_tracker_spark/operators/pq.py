"""Product quantization (PQ) for vector search at corpus scale
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011): split each vector into ``m`` subspaces, k-means
each subspace into ``ksub`` centroids, and store every vector as ``m``
small codes — a 64-dim float vector (256 B) compresses to 4 bytes at
m=4/ksub=16. Search uses asymmetric distance computation (ADC): the
QUERY stays exact, per-subspace distances to all centroids are
precomputed into a lookup table, and a corpus vector's approximate
distance is just ``m`` table lookups + adds.

Spark shape:
- training reuses :mod:`clustering`'s k-means per subspace — the same
  map-only assignment / (cluster,pos)-keyed update discipline, m small
  runs whose shuffle volume is ksub × dsub per task regardless of
  corpus size.
- encoding is MAP-ONLY: codebooks ride the plan as literals (m × ksub
  × dsub doubles — a few KB), argmin per subspace in codegen.
- the ADC scan is map-only over the CODES table (the corpus vectors
  are never read at query time — that is the point: the scan I/O is
  the 4-byte codes, not the 256-byte vectors); per-query LUTs are
  driver-computed (m × ksub flops) and ride as one literal.
- at 100 TB, compose with IVF: partition the codes table by coarse
  cell (build_ivf_index) so ADC scans only the probed cells. This
  module keeps the flat scan as the verifiable baseline.

Determinism: subspace k-means inherits clustering.py's md5-seeded
init + exact-decimal updates; assignment ties break to the lowest
code. Training is iterative ⇒ the registered query is rows-only, with
recall-vs-exact and determinism asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import (
    _centroid_array,
    _dists_sql,
    _portable_mean,
    _sq_dist_np,
    kmeans,
)

_EMPTY_TOPK = "query_id int, corpus_id long, approx_dist double, rnk long"


# PQ's distance arithmetic has ONE definition — clustering._dists_sql
# (the 0.0-seeded index-order zip_with/aggregate fold) — shared by
# training and encoding; train and encode disagreeing there would
# silently corrupt every code.


def _lut_literal(luts: list[list[list[float]]]):
    """n × m × ksub lookup tables as ONE literal expression tree (same
    repr-cast round-trip and single-parse rationale as
    clustering._centroid_array) — shared by the flat and IVF ADC
    paths."""
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array("
                + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in row)
                + ")"
                for row in lut
            )
            + ")"
            for lut in luts
        )
        + ")"
    )


def train_pq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    ksub: int = 16,
    max_iter: int = 3,
    np_rounds: bool | None = None,
) -> list[list[list[float]]]:
    """codebooks[m][ksub][dsub]: k-means per subspace slice, with all
    ``m`` subspaces trained in the SAME jobs.

    Running :func:`clustering.kmeans` per subspace would cost m ×
    (init + iterations) separate Spark jobs over the same corpus; the
    subspace problems are independent, so this fuses them — ONE
    md5-ordered init collect seeds every subspace (identical seeds to
    the sequential form: the smallest-hash ids' slices), and each
    Lloyd round is ONE pass computing every subspace's assignment
    map-only and aggregating all means keyed on (subspace, cluster,
    pos). Same exact-decimal update discipline ⇒ byte-identical
    codebooks to m independent kmeans() runs (test-asserted), at
    1/m-th the job count; the per-round shuffle payload is m × ksub ×
    dsub partials per task — corpus-size-independent.
    """
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.dedup import _spread

    # one (id, double-vec) projection feeds the seed collect and every
    # Lloyd round; dim derives from the seed rows instead of its own
    # first() job (one fewer fixed-overhead job per training). Not
    # persisted — measured net-negative at bench SF (cache
    # materialization > per-round re-scan), and ivfpq's resid input is
    # already persisted by the caller.
    base = _spread(df).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import _no_aqe

    with _no_aqe(df.sparkSession):
        seeds = (
            base.select(F.md5(F.col("id").cast("string")).alias("h"), "_v")
            .orderBy("h")
            .limit(ksub)
            .collect()
        )
        books, dim = _lloyd_rounds(base, seeds, m, ksub, max_iter, np_rounds)
    return books


def _pq_round_partials_np(base, books, dsub):
    """One fused PQ Lloyd round's (subspace, cluster, pos) →
    (quantized sum, count) partials as a fold-exact numpy pass — the
    product-quantizer twin of clustering._round_partials_np (see its
    docstring for the bitwise argument: sequential-dim accumulation ==
    the zip_with/aggregate fold, first-min argmin == array_position,
    floor-quantized int64 sums == _portable_mean's BIGINT partials).
    Replaces the m-struct explode + posexplode + groupBy round: the
    shuffle moves ≤ tasks × m × ksub × dsub partial rows instead of
    corpus_rows × dim exploded rows, and no interpreted HOF runs."""
    import numpy as np
    import pandas as pd

    bks = [[list(map(float, c)) for c in book] for book in books]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(list(pdf["_v"]), dtype=np.float64)
            out = {"j": [], "cluster": [], "pos": [], "s": [], "n": []}
            for j, book in enumerate(bks):
                sub = v[:, j * dsub : (j + 1) * dsub]
                cl = np.argmin(_sq_dist_np(sub, book), axis=1)
                q = np.floor(sub * 1e10).astype(np.int64)
                for ci in np.unique(cl):
                    sel = q[cl == ci]
                    sums = sel.sum(axis=0)
                    out["j"].extend([int(j)] * dsub)
                    out["cluster"].extend([int(ci)] * dsub)
                    out["pos"].extend(range(dsub))
                    out["s"].extend(int(x) for x in sums)
                    out["n"].extend([int(sel.shape[0])] * dsub)
            yield pd.DataFrame(out)

    return (
        base.select("_v")
        .mapInPandas(gen, schema="j int, cluster int, pos int, s long, n long")
        .groupBy("j", "cluster", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )


def _lloyd_rounds(base, seeds, m, ksub, max_iter,
                  np_rounds: bool | None = None):
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import _LITERAL_K_MAX

    if np_rounds is None:
        # same measured crossover as kmeans: numpy only past the
        # codegen-budget k (small-ksub numpy rounds regressed the
        # bench trainers ~15% at sf0.1 — per-round Arrow overhead)
        np_rounds = ksub > _LITERAL_K_MAX
    dim = len(seeds[0]["_v"])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    dsub = dim // m
    books = [
        [list(r["_v"])[j * dsub : (j + 1) * dsub] for r in seeds] for j in range(m)
    ]
    for _ in range(max_iter):
        new_books = [[list(c) for c in book] for book in books]
        if np_rounds:
            # fold-exact numpy partials; same final double divisions as
            # _portable_mean (Python float division is IEEE double)
            for r in _pq_round_partials_np(base, books, dsub):
                new_books[r.j][r.cluster][r.pos] = float(r.s) / r.n / 1e10
        else:
            per_sub = []
            for j, book in enumerate(books):
                sub = F.slice(F.col("_v"), j * dsub + 1, dsub)
                # one parsed SQL string per subspace instead of the py4j
                # lambda tree — same fold, leaner plan (clustering._dists_sql)
                dists = F.expr(
                    _dists_sql(f"slice(_v, {j * dsub + 1}, {dsub})", book)
                )
                cluster = (
                    F.array_position(dists, F.array_min(dists)) - 1
                ).cast("int")
                per_sub.append(
                    F.struct(
                        F.lit(j).alias("j"), cluster.alias("cluster"), sub.alias("sub")
                    )
                )
            new_rows = (
                base.select(F.explode(F.array(*per_sub)).alias("s"))
                .select("s.j", "s.cluster", F.posexplode("s.sub").alias("pos", "x"))
                .groupBy("j", "cluster", "pos")
                .agg(_portable_mean(F.col("x")).alias("c"))
                .collect()
            )
            for r in new_rows:
                new_books[r.j][r.cluster][r.pos] = r.c
        if new_books == books:
            break
        books = new_books
    return books, dim


def encode_pq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: list[list[list[float]]],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [carry...], code: array<int>) — map-only nearest-centroid
    code per subspace, codebooks as plan literals, ties → lowest code.
    ``carry`` columns ride through the projection so callers never
    need an id-keyed join to re-attach metadata (cell, source, ...)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.select(F.col(id_col).alias("id"), *carry, vec.alias("_v"))
    codes = []
    for j, book in enumerate(codebooks):
        dists = F.expr(_dists_sql(f"slice(_v, {j * dsub + 1}, {dsub})", book))
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return out.select("id", *carry, F.array(*codes).alias("code"))


def pq_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_rows: list[tuple[int, list[float]]],
    k: int = 5,
) -> DataFrame:
    """ADC top-``k`` per query over the codes table.

    Per-query lookup tables (lut[q][j][c] = ||query_j − codebook
    [j][c]||²) are computed driver-side (nq × m × ksub tiny flops) and
    embedded as ONE literal; the scan explodes each code row over the
    query list and sums m table lookups — map-only until the final
    per-query top-k. Emits (query_id, corpus_id, approx_dist, rnk);
    an empty query list returns an empty frame (a sequence(1, 0)
    literal would otherwise produce a DESCENDING [1, 0] explode and a
    runtime array-index error)."""
    from pyspark.sql import Window

    if not query_rows:
        return codes_df.sparkSession.createDataFrame([], _EMPTY_TOPK)
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    luts = []
    qids = []
    for qid, qvec in query_rows:
        qv = [float(x) for x in qvec]
        lut = []
        for j, book in enumerate(codebooks):
            sub = qv[j * dsub : (j + 1) * dsub]
            lut.append(
                [
                    sum((a - b) * (a - b) for a, b in zip(sub, cent))
                    for cent in book
                ]
            )
        luts.append(lut)
        qids.append(int(qid))
    lut3 = _lut_literal(luts)
    qid_lit = F.array(*[F.lit(q) for q in qids])
    nq = len(qids)
    scan = codes_df.select(
        F.col("id").alias("corpus_id"),
        "code",
        F.explode(F.sequence(F.lit(1), F.lit(nq))).alias("qi"),
    )
    per_q_lut = F.element_at(lut3, F.col("qi"))  # m × ksub for this query
    dist = F.aggregate(
        F.zip_with(
            F.col("code"),
            per_q_lut,
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist"), F.col("corpus_id")
    )
    return (
        scan.select(
            F.element_at(qid_lit, F.col("qi")).alias("query_id"),
            "corpus_id",
            dist.alias("approx_dist"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


# --------------------------------------------------------------------------
# persistent IVF-PQ index (coarse cells + residual product codes — the
# FAISS IVFPQ layout, lake-native)


def _pq_lloyd_np(resid, seeds, m, max_iter):
    """driver-side fused-subspace PQ Lloyd over an in-memory residual
    sample — bitwise-identical to _lloyd_rounds on the same vectors
    (see clustering.lloyd_np for the arithmetic argument; the global
    all-subspaces convergence check mirrors the distributed loop)."""
    import numpy as np

    v = np.asarray([list(map(float, x)) for x in resid], dtype=np.float64)
    dim = v.shape[1]
    assert dim % m == 0
    dsub = dim // m
    books = [
        [list(map(float, s))[j * dsub : (j + 1) * dsub] for s in seeds]
        for j in range(m)
    ]
    for _ in range(max_iter):
        new_books = [[list(c) for c in book] for book in books]
        for j, book in enumerate(books):
            sub = v[:, j * dsub : (j + 1) * dsub]
            cl = np.argmin(_sq_dist_np(sub, book), axis=1)
            q = np.floor(sub * 1e10).astype(np.int64)
            for ci in np.unique(cl):
                sel = q[cl == ci]
                cnt = sel.shape[0]
                sums = sel.sum(axis=0)
                new_books[j][int(ci)] = [
                    float(int(s)) / cnt / 1e10 for s in sums
                ]
        if new_books == books:
            break
        books = new_books
    return books


def build_ivfpq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    n_cells: int = 8,
    m: int = 4,
    ksub: int = 16,
    max_iter: int = 3,
    train_sample: int = 4096,
) -> None:
    """Build the lake-native IVF-PQ index:

        path/codes/cell=<c>/   (id, code: array<int>)
        path/meta.json         centroids + codebooks (zero-job sidecar)

    Coarse k-means partitions the corpus into cells; each vector's
    RESIDUAL (vec − its cell centroid) is product-quantized — residual
    encoding is what makes small codebooks accurate, because residual
    magnitudes are cell-radius-sized, not corpus-sized (Jégou et al.
    2011 §IV). Codes land partitioned BY (SEGMENT, CELL): probes are
    directory pruning (PartitionFilters) exactly like the plain IVF
    index, and per-crawl :func:`append_ivfpq_index` segments follow
    the text/dedup-index lifecycle (FAISS ``add``: assign to the
    EXISTING quantizers, never retrain — r6). A 100 TB corpus stores
    4-byte codes per vector and probes read only the committed
    segments' n_probe cells. Both quantizers train on
    the ``train_sample`` smallest-md5(id) vectors DRIVER-side
    (bitwise-fold numpy Lloyd — identical to the distributed trainer
    whenever the sample covers the corpus, i.e. at every gate SF);
    the whole cluster-side build is then one fused map-only
    assign+residual+encode+write pass over literal centroids/books.
    """
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import (
        assign_clusters,
        assign_np,
        lloyd_np,
    )

    # SAMPLE training (the FAISS-standard shape, r5): ONE TakeOrdered
    # job collects the `train_sample` smallest-md5(id) vectors; BOTH
    # quantizers train on the driver over that sample with the
    # bitwise-fold numpy Lloyd replicas (clustering.lloyd_np /
    # _pq_lloyd_np). Whenever the sample covers the whole corpus —
    # every correctness-gate SF — the centroids and codebooks are
    # byte-identical to the distributed trainers, so the oracle is
    # unchanged; past the sample size, training on a bounded
    # deterministic sample IS the 100 TB design (you never Lloyd over
    # the full corpus to build an index — FAISS trains on ~max(k*39,
    # 2^16) points), and the build cost collapses from
    # seeds + 2×max_iter round jobs + encode to TWO jobs total
    # (sample collect, then one fused map-only assign+residual+
    # encode+write pass — no persist, nothing iterative cluster-side).
    n_take = max(train_sample, n_cells, ksub)
    sample_rows = (
        df.select(
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        .orderBy("h")
        .limit(n_take)
        .collect()
    )
    sample = [list(r["_v"]) for r in sample_rows]
    cents = lloyd_np(sample, sample[:n_cells], max_iter)
    asg = assign_np(sample, cents)
    resid_sample = [
        [x - c for x, c in zip(v, cents[int(a)])]
        for v, a in zip(sample, asg)
    ]
    # PQ seeds: residuals of the ksub smallest-md5 ids, exactly as the
    # distributed trainer would have collected them
    books = _pq_lloyd_np(resid_sample, resid_sample[:ksub], m, max_iter)

    # a BUILD is a full rebuild: wipe any prior index (stale segments
    # or an incompatible layout must not survive into the new one —
    # appends, by contrast, touch only their own segment's partitions)
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.retrieval import _fs_delete

    spark = df.sparkSession
    for sub in ("codes", "stats", "meta.json"):
        _fs_delete(spark, f"{path}/{sub}")
    # ONE fused map-only pass: cell assignment + residual subtraction +
    # per-subspace encode + partitioned write (literal centroids and
    # codebooks ride the plan; no join, no shuffle but the cell
    # repartition that bounds the file count)
    _write_ivfpq_codes(df, vec_col, id_col, path, cents, books, "base")
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import write_json_meta

    # meta lands LAST (commit record) as a zero-job JSON sidecar: a
    # 1-row parquet write here cost a full job's fixed overhead.
    # Ordering contract: codes+stats for seg=base exist before meta,
    # and probes require BOTH meta and a segment's stats sidecar, so
    # a crash anywhere leaves no half-visible index.
    write_json_meta(
        df.sparkSession,
        f"{path}/meta.json",
        {"centroids": cents, "codebooks": books},
    )


def _write_ivfpq_codes(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    cents: list[list[float]],
    books,
    segment: str,
) -> None:
    """the shared fused encode+write pass: cell assignment + residual
    subtraction + per-subspace encode over LITERAL quantizers, written
    with dynamic partition overwrite (idempotent per-segment replay —
    re-running a failed append repairs seg=<segment> in place), stats
    sidecar LAST as the segment's commit record."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import assign_clusters
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.retrieval import _dyn_overwrite
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import write_json_meta

    assigned = assign_clusters(df, vec_col, id_col, cents)
    cmat = _centroid_array(cents)
    resid = assigned.select(
        "id",
        F.col("cluster").alias("cell"),
        F.zip_with(
            "vec", F.element_at(cmat, F.col("cluster") + 1), lambda x, c: x - c
        ).alias("res"),
    )
    codes = encode_pq(resid, "res", "id", books, carry=("cell",))
    _dyn_overwrite(
        codes.select("id", "code", F.lit(segment).alias("seg"), "cell")
        .repartition("seg", "cell"),
        f"{path}/codes",
        ["seg", "cell"],
    )
    write_json_meta(
        df.sparkSession, f"{path}/stats/seg={segment}.json", {"committed": True}
    )


def append_ivfpq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    segment: str,
) -> None:
    """Append a crawl's vectors to an existing IVF-PQ index under a
    new segment — FAISS ``add`` semantics: the new vectors are
    assigned and encoded against the index's EXISTING centroids and
    codebooks (read from the meta commit record), never retrained, so
    standing codes stay valid and the append is ONE fused map-only
    pass over the new batch only. Crash-replay safe like the text and
    dedup indexes: codes write with dynamic partition overwrite (a
    replayed append repairs its segment in place) and the stats
    sidecar lands LAST as the commit record — probes ignore segments
    whose sidecar is missing. Quantizer drift over many crawls is a
    REBUILD decision (recall eval on a sample), not an append-time
    one — exactly the production IVF lifecycle."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_json_meta

    meta = read_json_meta(df.sparkSession, f"{path}/meta.json")
    if meta is None:
        raise ValueError(
            f"no committed IVF-PQ index at {path} (meta.json missing) — "
            "build_ivfpq_index first"
        )
    _write_ivfpq_codes(
        df, vec_col, id_col, path, meta["centroids"], meta["codebooks"], segment
    )


def query_ivfpq_index(
    spark,
    path: str,
    query_rows: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """ADC top-``k`` per query against the persistent IVF-PQ index.

    Driver side (tiny): pick each query's ``n_probe`` nearest cells
    and precompute one LUT per (query, probed cell) on the residual
    space — lut[j][c] = ||(q − cell_centroid)_j − codebook[j][c]||².
    Cluster side: the codes scan is cell-pruned (PartitionFilters, a
    literal isin over the union of probed cells), each row joins its
    (query, cell) probes via a broadcast, and the approximate
    distance is m table lookups + adds. Emits (query_id, corpus_id,
    approx_dist, rnk); an empty query list returns an empty frame."""
    from pyspark.sql import Window

    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_json_meta

    if not query_rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    meta = read_json_meta(spark, f"{path}/meta.json")
    if meta is None:
        raise ValueError(f"no committed IVF-PQ index at {path} (meta.json missing)")
    cents = meta["centroids"]
    books = meta["codebooks"]
    m = len(books)
    dsub = len(books[0][0])

    probes = []  # (query_id, cell, lut)
    for qid, qvec in query_rows:
        qv = [float(x) for x in qvec]
        by_d = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, c)), ci)
            for ci, c in enumerate(cents)
        )
        for _, ci in by_d[:n_probe]:
            res = [a - b for a, b in zip(qv, cents[ci])]
            lut = [
                [
                    sum(
                        (a - b) * (a - b)
                        for a, b in zip(res[j * dsub : (j + 1) * dsub], cent)
                    )
                    for cent in books[j]
                ]
                for j in range(m)
            ]
            probes.append((int(qid), ci, lut))

    lut3 = _lut_literal([lut for _, _, lut in probes])
    probes_df = spark.createDataFrame(
        [(q, c, i + 1) for i, (q, c, _) in enumerate(probes)],
        "query_id int, cell int, li int",
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.retrieval import _segment_stats

    segs = sorted(_segment_stats(spark, path))
    if not segs:
        raise ValueError(
            f"no committed segments at {path} — every build/append "
            "crashed before its stats sidecar landed; re-run to repair"
        )
    cells = sorted({c for _, c, _ in probes})
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("seg").isin(segs) & F.col("cell").isin(cells)
    )
    scan = codes.join(F.broadcast(probes_df), "cell")
    dist = F.aggregate(
        F.zip_with(
            F.col("code"),
            F.element_at(lut3, F.col("li")),
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_dist"), F.col("corpus_id"))
    return (
        scan.select(
            "query_id", F.col("id").alias("corpus_id"), dist.alias("approx_dist")
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


# --- scalar quantization (SQ8) ------------------------------------
#
# The OTHER standard compression path next to PQ (FAISS
# ScalarQuantizer QT_8bit): one byte per DIMENSION instead of one
# code per SUBSPACE — 4x memory cut at dim 64, trivially mergeable
# training state (per-dim min/max), and the distance arithmetic stays
# pure integers, so the whole train -> encode -> rank chain is
# bitwise engine-portable (no Lloyd rounds to unroll). At 100 TB the
# codes table is what the scan reads (64 B/vec vs 256 B); compose
# with IVF cells exactly like the PQ codes table.


def train_sq8(df: DataFrame, vec_col: str, dim: int = 64):
    """Per-dimension (min, range) over the corpus — the scalar
    quantizer's ENTIRE training state: one map-side-combining agg, a
    2*dim-double collect (the bounded-literal pattern). ranges[j] is
    computed driver-side as ``max_j - min_j``; Python float
    subtraction IS IEEE double subtraction, so an oracle deriving the
    same range in SQL matches bit-for-bit."""
    row = df.agg(
        F.array(
            *[F.min(F.col(vec_col)[j].cast("double")) for j in range(dim)]
        ).alias("mns"),
        F.array(
            *[F.max(F.col(vec_col)[j].cast("double")) for j in range(dim)]
        ).alias("mxs"),
    ).collect()[0]
    mins = list(row["mns"])
    ranges = [mx - mn for mn, mx in zip(mins, row["mxs"])]
    return mins, ranges


def _dbl_array(vals):
    """Literal double array via one parsed SQL string (repr-cast
    round-trips every bit; single parse beats dim py4j calls — the
    clustering._centroid_array rationale)."""
    return F.expr(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in vals) + ")"
    )


def sq8_code_expr(vec_col, mins: list[float], ranges: list[float]):
    """uint8 code array: clamp(floor((x - min) * 255 / range), 0, 255)
    per dimension. Every step is ONE correctly-rounded IEEE op
    (subtract, multiply, divide), then FLOOR (no rounding rule to
    disagree on) and integer clamps — identical in Spark and DuckDB.
    Zero-range dimensions collapse to code 0. Runs in whole-stage
    codegen; the literal arrays constant-fold."""
    mn, rg = _dbl_array(mins), _dbl_array(ranges)
    v = F.transform(vec_col, lambda x: x.cast("double"))
    diff = F.zip_with(v, mn, lambda x, m: x - m)
    zero = F.lit(0).cast("long")
    return F.zip_with(
        diff,
        rg,
        lambda d, r: F.when(
            r > 0,
            F.least(
                F.lit(255).cast("long"),
                F.greatest(zero, F.floor(d * F.lit(255.0) / r)),
            ),
        ).otherwise(zero),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Exact top-k under the QUANTIZED metric: symmetric integer
    squared L2 between uint8 code arrays, ties to the lower corpus
    id. Encoding is map-only (quantizer state rides as two literal
    arrays); ranking is the brute_force_topk shape (broadcast query
    codes, per-partition integer fold, window top-k) — the scan reads
    64 B codes, not 256 B floats. Integer distances make the ranking
    tie-STABLE and the whole chain hash-gateable; retrieval quality
    vs the exact float ranking is asserted in tests (recall@5)."""
    from pyspark.sql import Window

    mins, ranges = train_sq8(corpus, vec_col, dim)
    code = sq8_code_expr(F.col(vec_col), mins, ranges)
    c = corpus.select(F.col(id_col).alias("corpus_id"), code.alias("ccode"))
    q = queries.select(F.col(id_col).alias("query_id"), code.alias("qcode"))
    dist = F.aggregate(
        F.zip_with(F.col("qcode"), F.col("ccode"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_sq8").asc(), F.col("corpus_id").asc()
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id", dist.alias("dist_sq8"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )
