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
- training IS :mod:`clustering`'s Lloyd trainer (k-means is PQ with one
  subspace): map-only assignment and a (subspace, cluster, pos)-keyed
  update, all m subspaces in the same jobs, with a shuffle volume of
  m × ksub × dsub per task regardless of corpus size.
- encoding is MAP-ONLY: codebooks ride the plan as literals (m × ksub
  × dsub doubles — a few KB), argmin per subspace in codegen.
- the ADC scan is map-only over the CODES table (the corpus vectors
  are never read at query time — that is the point: the scan I/O is
  the 4-byte codes, not the 256-byte vectors); per-query LUTs are
  driver-computed (m × ksub flops) and ride as one literal.
- at 100 TB, compose with IVF: partition the codes table by coarse
  cell (build_ivfpq_index) so ADC scans only the probed cells. The
  flat scan stays as the verifiable baseline.

Determinism: subspace k-means inherits clustering.py's md5-seeded
init + exact-decimal updates; assignment ties break to the lowest
code. Training is iterative ⇒ the registered query is rows-only, with
recall-vs-exact and determinism asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.functions.vectors import array_sql
from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import (
    _nearest_codes,
    lloyd_train,
)

_EMPTY_TOPK = "query_id int, corpus_id long, approx_dist double, rnk long"


# PQ's distance arithmetic and codeword assignment have ONE definition
# each — clustering._dists_sql (the 0.0-seeded index-order
# zip_with/aggregate fold) and clustering._nearest_codes (its argmin per
# subspace) — shared by training and encoding; train and encode
# disagreeing there would silently corrupt every code.


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
    ``m`` subspaces trained in the SAME jobs by
    :func:`clustering.lloyd_train`.

    Running :func:`clustering.kmeans` per subspace would cost m ×
    (init + iterations) separate Spark jobs over the same corpus; the
    subspace problems are independent, so the trainer fuses them — ONE
    md5-ordered init collect seeds every subspace (identical seeds to
    the sequential form: the smallest-hash ids' slices), and each
    Lloyd round is ONE pass over every subspace. Byte-identical
    codebooks to m independent kmeans() runs (test-asserted), at
    1/m-th the job count. ``np_rounds`` is lloyd_train's test-only
    round override.
    """
    return lloyd_train(df, vec_col, id_col, m, ksub, max_iter, np_rounds)


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
    dsub = len(codebooks[0][0])
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.select(F.col(id_col).alias("id"), *carry, vec.alias("_v"))
    return out.select("id", *carry, _nearest_codes(codebooks, dsub).alias("code"))


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
    lut3 = F.expr(array_sql(luts))  # n × m × ksub
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
        _md5_head,
        _vec_base,
        assign_np,
        lloyd_train_np,
    )

    # SAMPLE training (the FAISS-standard shape, r5): ONE TakeOrdered
    # job collects the `train_sample` smallest-md5(id) vectors; BOTH
    # quantizers train on the driver over that sample with
    # clustering.lloyd_train_np, the driver-side round of the same
    # Lloyd trainer. Whenever the sample covers the whole corpus —
    # every correctness-gate SF — the centroids and codebooks are
    # byte-identical to the distributed trainer, so the oracle is
    # unchanged; past the sample size, training on a bounded
    # deterministic sample IS the 100 TB design (you never Lloyd over
    # the full corpus to build an index — FAISS trains on ~max(k*39,
    # 2^16) points), and the build cost collapses from
    # seeds + 2×max_iter round jobs + encode to TWO jobs total
    # (sample collect, then one fused map-only assign+residual+
    # encode+write pass — no persist, nothing iterative cluster-side).
    n_take = max(train_sample, n_cells, ksub)
    sample = _md5_head(_vec_base(df, vec_col, id_col), n_take)
    cents = lloyd_train_np(sample, sample[:n_cells], 1, max_iter)[0]
    asg = assign_np(sample, cents)
    resid_sample = [
        [x - c for x, c in zip(v, cents[int(a)])]
        for v, a in zip(sample, asg)
    ]
    # PQ seeds: residuals of the ksub smallest-md5 ids, exactly as the
    # distributed trainer would have collected them
    books = lloyd_train_np(resid_sample, resid_sample[:ksub], m, max_iter)

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
    cmat = F.expr(array_sql(cents))
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

    lut3 = F.expr(array_sql([lut for _, _, lut in probes]))
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


def sq8_code_expr(vec_col, mins: list[float], ranges: list[float]):
    """uint8 code array: clamp(floor((x - min) * 255 / range), 0, 255)
    per dimension. Every step is ONE correctly-rounded IEEE op
    (subtract, multiply, divide), then FLOOR (no rounding rule to
    disagree on) and integer clamps — identical in Spark and DuckDB.
    Zero-range dimensions collapse to code 0. Runs in whole-stage
    codegen; the literal arrays constant-fold."""
    mn, rg = F.expr(array_sql(mins)), F.expr(array_sql(ranges))
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
