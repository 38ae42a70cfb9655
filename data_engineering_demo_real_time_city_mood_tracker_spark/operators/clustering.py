"""Distributed k-means (Lloyd's) over an embedding column — the
training step behind IVF ANN indexes and corpus clustering, and the
one Lloyd trainer that product quantization (pq.py) shares: PQ is
k-means on each of ``m`` subspaces, k-means is PQ with one.

Execution shape per iteration:
- assignment is a MAP-ONLY pass: the k×dim centroid matrix is tiny
  (k=64, dim=1024 → 512 KB), so it is embedded in the plan as
  literals — the Spark equivalent of a broadcast variable, with zero
  shuffle and full codegen on the distance math.
- the centroid update is ONE groupBy(subspace, cluster, pos) shuffle —
  map-side partial aggregation reduces each executor's contribution to
  k × dim rows before the exchange, so the shuffle volume is
  independent of corpus size.
- the new centroids (k rows) are collected to the driver; O(k×dim)
  bytes, never the data.

Determinism: init picks the k vectors with the smallest md5(id) —
reproducible across runs/partitionings; ties in assignment break to
the lowest centroid index (array_position finds the first minimum).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.functions.vectors import (
    array_sql,
    i64_sql,
)
from data_engineering_demo_real_time_city_mood_tracker_spark.session import release_after, small_shuffle, spread


def _portable_mean(x):
    """Partition-order-independent AND engine-portable centroid mean:
    floor-quantize each element to an exact integer at scale 1e10,
    sum as BIGINT (exact), then two IEEE double divisions.

    Why not CAST(x AS DECIMAL(28,10)): the double→decimal cast has a
    rounding TIE when the element's 11th decimal digit is exactly 5 —
    Spark rounds the shortest-repr string HALF_UP while DuckDB rounds
    the 1e10-scaled double, and the two disagree on such ties
    (observed: one dim of one centroid off by 1e-10 at sf0.01, which
    broke the hash of any query exposing centroid arithmetic).
    FLOOR of an IEEE double is bit-deterministic — no rounding rule
    to disagree on — so the quantized sums match bitwise on any
    engine."""
    return (
        F.sum(F.floor(x * F.lit(1e10))).cast("double")
        / F.count(F.lit(1))
        / F.lit(1e10)
    )


def _dists_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """per-centroid squared-distance array as ONE SQL string: the
    0.0-seeded, index-order zip_with/aggregate fold, one IEEE add per
    dim. This is the one squared-distance fold of every plan here
    (training, assignment, multi-probe, PQ encoding); _sq_dist_np is
    its numpy twin. Parsed JVM-side in one call: measured per trainer
    round at bench SF vs the same fold as a py4j-lambda tree, plan
    build 0.22 → 0.12 s AND exec 0.6 → 0.3 s (the parsed lambda
    produces a leaner expression tree); every oracle row downstream
    guards the arithmetic bitwise."""
    return (
        f"transform({array_sql(centroids)}, c -> "
        f"aggregate(zip_with({vec_sql}, c, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x))"
    )


def _nearest_codes(books, dsub: int):
    """array<int>: each row's nearest codeword per subspace of ``_v``
    (subspace j is the ``dsub``-wide slice j against ``books[j]``),
    ties to the lowest index. Each distance array is folded once: the
    argmin reads it through the lambda variable. The one assignment
    of the Lloyd round and of PQ encoding."""
    dists = ",".join(
        _dists_sql(f"slice(_v, {j * dsub + 1}, {dsub})", book)
        for j, book in enumerate(books)
    )
    return F.expr(
        f"transform(array({dists}), "
        "d -> cast(array_position(d, array_min(d)) - 1 as int))"
    )


_LITERAL_K_MAX = 32


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """(id, cluster, vec): nearest-centroid assignment, map-only.

    Small k rides the plan as literals (full codegen on the distance
    math). Past ``_LITERAL_K_MAX`` the k×dim literal tree blows the
    codegen budget and Spark silently falls back to interpreted
    evaluation (measured: k=156 k-means 30.7 s vs 4 s at sf1) — so
    large k ships the matrix as ONE broadcast row instead: identical
    arithmetic on the same doubles (createDataFrame round-trips float
    bits exactly), plan size O(1) in k. The BLAS path computes
    ||c||² − 2v·c, which can argmin differently from the
    per-dimension fold on near-tie distances."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("id"), vec.alias("vec"))
    if len(centroids) > _LITERAL_K_MAX:
        return _assign_clusters_np(base, centroids)
    dists = F.expr(_dists_sql("vec", centroids))
    return (
        base.withColumn("_d", dists)
        .select(
            "id",
            "vec",
            (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1)
            .cast("int")
            .alias("cluster"),
        )
    )


def _assign_clusters_np(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Large-k assignment as an Arrow-batched BLAS matmul.

    The JVM path evaluates k zip_with/aggregate lambdas per row —
    interpreted per-element, so cost is k×dim×n lambda dispatches
    (measured: k=156 over 20k vectors = 30 s/round at sf1, identical
    for literal and broadcast centroid shipping — the lambda eval IS
    the cost). ||v−c||² = ||v||² − 2v·C + ||c||² turns the whole batch
    into one n×dim @ dim×k matmul (~ms). Ties break to the lowest
    index (np.argmin) exactly like array_position(array_min). Used
    only above _LITERAL_K_MAX, where no oracle-backed caller lives —
    the k≤32 hash-gated paths keep the fold-order-exact JVM
    arithmetic."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = (cmat * cmat).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(list(pdf["vec"]), dtype=np.float64)
            d = cnorm - 2.0 * (v @ cmat.T)  # ||v||² constant per row
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "vec": pdf["vec"],
                    "cluster": np.argmin(d, axis=1).astype(np.int32),
                }
            )

    id_type = base.schema["id"].dataType.simpleString()
    return base.mapInPandas(
        assign, schema=f"id {id_type}, vec array<double>, cluster int"
    )


def within_cluster_cosine_pairs(assigned: DataFrame) -> DataFrame:
    """(id_a, id_b, cos_sim) for every within-cluster pair with
    id_a < id_b — the SemDeDup pairwise-scoring stage, computed as a
    grouped fold-exact numpy pass instead of a cluster-keyed self-join
    scored by interpreted zip_with/aggregate lambdas.

    Input: (id, vec array<double>, cluster) — assign_clusters output.

    Why this shape: the self-join shuffles the dim-wide double vectors
    on BOTH join sides and then pays ~pairs × dim interpreted lambda
    dispatches for the cosine folds (HOF expressions never enter
    codegen). Here ONE exchange moves each vector once (grouped by
    cluster) and the pair scoring runs vectorized per group; output is
    3 narrow columns.

    Why bitwise: norms accumulate x*x per-dim SEQUENTIALLY and dots
    x*y likewise — ``acc = acc + a*b`` per dim is the same two
    correctly-rounded IEEE ops in the same order as the 0.0-seeded
    zip_with/aggregate fold (numpy elementwise ufuncs never fuse into
    FMA); np.sqrt is correctly rounded like java.lang.Math.sqrt; and
    cos = dot / (na * nb) multiplies before dividing exactly like the
    Column expression. Parity is test-asserted against the JVM
    expression on the real embeddings and the semantic_dedup oracle
    hash re-checks every value downstream. Rows within a group are
    sorted by id, so pair (i < j) positions ARE id_a < id_b.

    Memory on skewed clusters: pair indices are generated per
    ANCHOR-ROW BLOCK (never one O(m²) ``triu_indices``
    materialization) and every block is yielded as its own frame
    through the iterator grouped-map form, so per-task peak memory is
    the group's vectors plus ONE ~4M-pair block — a giant cluster
    costs wall time (pair count is the algorithm's output size), not
    tens of GB of simultaneous pair temporaries."""
    import numpy as np

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        m = len(pdf)
        if m < 2:
            return
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        v = np.asarray(list(pdf["vec"]), dtype=np.float64)
        dim = v.shape[1]
        nacc = np.zeros(m, dtype=np.float64)
        for t in range(dim):
            x = v[:, t]
            nacc = nacc + x * x
        norms = np.sqrt(nacc)
        chunk = 4_000_000
        s = 0
        while s < m - 1:
            # grow the anchor block until it holds ~chunk pairs (an
            # anchor i owns the m-1-i pairs (i, j>i)); a single anchor
            # over budget is taken whole — its pair count is < m
            e, pairs = s, 0
            while e < m - 1 and pairs + (m - 1 - e) <= chunk:
                pairs += m - 1 - e
                e += 1
            if e == s:
                e = s + 1
            anchors = np.arange(s, e)
            cnts = m - 1 - anchors
            ca = np.repeat(anchors, cnts)
            first = np.repeat(anchors + 1, cnts)
            off = np.repeat(np.cumsum(cnts) - cnts, cnts)
            cb = first + (np.arange(cnts.sum()) - off)
            acc = np.zeros(ca.shape[0], dtype=np.float64)
            for t in range(dim):
                x = v[:, t]
                acc = acc + x[ca] * x[cb]
            yield pd.DataFrame(
                {
                    "id_a": ids[ca],
                    "id_b": ids[cb],
                    "cos_sim": acc / (norms[ca] * norms[cb]),
                }
            )
            s = e

    return assigned.groupBy("cluster").applyInPandas(
        score, schema="id_a long, id_b long, cos_sim double"
    )


def assign_top_cells(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    n_probe: int,
) -> DataFrame:
    """(id, vec, cluster) exploded over each vector's ``n_probe``
    nearest centroids (squared-L2, ties to the lower index) — the
    multi-probe side of an IVF index. Map-only, like assign_clusters:
    centroids ride the plan as literals."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # (d, cid) structs sort by field order → distance, then index
    scored = F.expr(
        f"transform({_dists_sql('vec', centroids)}, "
        "(d, i) -> named_struct('d', d, 'cid', i))"
    )
    probes = F.slice(F.array_sort(scored), 1, n_probe)
    return (
        df.select(F.col(id_col).alias("id"), vec.alias("vec"))
        .select("id", "vec", F.explode(probes).alias("p"))
        .select("id", "vec", F.col("p.cid").alias("cluster"))
    )


# --------------------------------------------------------------------------
# The Lloyd trainer. Product quantization is k-means run on each of
# ``m`` subspaces (Jégou, Douze, Schmid, TPAMI 2011), so k-means is PQ
# with m = 1: kmeans, pq.train_pq and pq.build_ivfpq_index all train
# here, through one md5-ordered seed collect (_md5_head), one iteration
# loop (_lloyd) and one round per execution place:
# - _round_col: Column expressions (the _dists_sql fold, posexplode,
#   _portable_mean) — small k;
# - _round_np: the numpy partials (_partials_np) per Arrow batch —
#   large k, where the interpreted fold is catastrophic;
# - lloyd_train_np: _partials_np on the driver over an in-memory sample.
#
# Why the three give the same bits: distances accumulate SEQUENTIALLY
# over dimensions — ``acc = acc + diff*diff`` per dim is the same two
# correctly-rounded IEEE ops in the same order as the zip_with/aggregate
# fold (numpy elementwise ufuncs never fuse into FMA), unlike the BLAS
# ``||v||²−2vc+||c||²`` expansion in _assign_clusters_np, which can
# argmin differently on near-ties. np.argmin takes the FIRST minimum ==
# array_position(array_min). The means floor-quantize at 1e10 exactly
# like _portable_mean (multiply then floor, both correctly rounded), sum
# as exact integers and end with the same two double divisions (Python
# float division IS IEEE double division). Parity is test-asserted on
# the real embeddings, and every downstream oracle hash re-checks it.


def _vec_base(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, _v array<double>): the projection every trainer reads."""
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )


def _md5_head(base: DataFrame, n: int) -> list[list[float]]:
    """the ``n`` vectors of an (id, _v) frame with the smallest md5(id)
    — a deterministic uniform sample (hash order is independent of
    storage order), collected by ONE TakeOrdered job."""
    rows = (
        base.select(F.md5(F.col("id").cast("string")).alias("h"), "_v")
        .orderBy("h")
        .limit(n)
        .collect()
    )
    return [list(r["_v"]) for r in rows]


def _sq_dist_np(v, cents: list[list[float]]):
    """(n, k) squared distances from each row of ``v`` to each of
    ``cents``, accumulated sequentially over dimensions: the same
    IEEE ops in the same order as the :func:`_dists_sql` fold."""
    import numpy as np

    n, dim = v.shape
    d = np.empty((n, len(cents)), dtype=np.float64)
    for ci, c in enumerate(cents):
        acc = np.zeros(n, dtype=np.float64)
        for t in range(dim):
            diff = v[:, t] - c[t]
            acc = acc + diff * diff
        d[:, ci] = acc
    return d


def _partials_np(v, books, dsub: int) -> dict[str, list[int]]:
    """one Lloyd round's (j, cluster, pos) → (s, n) partials over the
    rows of ``v``: subspace j's slices are assigned to their nearest
    codeword of ``books[j]``, floor-quantized at 1e10 and summed as
    exact int64 per (codeword, position)."""
    import numpy as np

    out = {"j": [], "cluster": [], "pos": [], "s": [], "n": []}
    for j, book in enumerate(books):
        sub = v[:, j * dsub : (j + 1) * dsub]
        cl = np.argmin(_sq_dist_np(sub, book), axis=1)
        q = np.floor(sub * 1e10).astype(np.int64)
        for ci in np.unique(cl):
            sel = q[cl == ci]
            out["j"].extend([j] * dsub)
            out["cluster"].extend([int(ci)] * dsub)
            out["pos"].extend(range(dsub))
            out["s"].extend(int(x) for x in sel.sum(axis=0))
            out["n"].extend([int(sel.shape[0])] * dsub)
    return out


def _means(partials) -> list[tuple[int, int, int, float]]:
    """(j, cluster, pos, s, n) → (j, cluster, pos, mean): the two IEEE
    double divisions _portable_mean performs."""
    return [(j, c, pos, float(s) / n / 1e10) for j, c, pos, s, n in partials]


def _round_col(base: DataFrame, books, dsub: int):
    """one Lloyd round as Column expressions: each row's nearest
    codeword per subspace is computed map-only over literal codewords
    (each distance array once), then the update is keyed on (j,
    cluster, pos) over the posexploded vector — a narrow agg instead
    of a dim-wide one, so codegen stays in one small method and the
    shuffle payload is m × k × dsub partials per map task."""
    # cl in its own projection: beside the generator it would be
    # evaluated once per exploded element, not once per row
    rows = (
        base.select(_nearest_codes(books, dsub).alias("cl"), "_v")
        .select("cl", F.posexplode("_v").alias("p", "x"))
        .withColumn("j", F.expr(f"cast(p div {dsub} as int)"))
        .groupBy(
            "j",
            F.element_at("cl", F.col("j") + 1).alias("cluster"),
            (F.col("p") % dsub).alias("pos"),
        )
        .agg(_portable_mean(F.col("x")).alias("c"))
        .collect()
    )
    return [(r.j, r.cluster, r.pos, r.c) for r in rows]


def _round_np(base: DataFrame, books, dsub: int):
    """one Lloyd round as the numpy partials pass: no interpreted HOF
    lambdas, and the shuffle moves ≤ tasks × m × k × dsub partial rows
    instead of corpus_rows × dim exploded rows."""
    import numpy as np

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                v = np.asarray(list(pdf["_v"]), dtype=np.float64)
                yield pd.DataFrame(_partials_np(v, books, dsub))

    return _means(
        base.select("_v")
        .mapInPandas(gen, schema="j int, cluster int, pos int, s long, n long")
        .groupBy("j", "cluster", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )


def _lloyd(seeds: list[list[float]], m: int, max_iter: int, round_fn):
    """THE Lloyd loop: split the seed vectors into ``m`` subspace
    codebooks, then apply ``round_fn(books, dsub)``'s (j, cluster, pos,
    mean) updates until no codeword moves (checked over all subspaces
    at once) or ``max_iter`` rounds ran. An empty cluster keeps its
    codeword."""
    dim = len(seeds[0]) if seeds else 0
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    dsub = dim // m
    books = [[s[j * dsub : (j + 1) * dsub] for s in seeds] for j in range(m)]
    for _ in range(max_iter):
        new_books = [[list(c) for c in book] for book in books]
        for j, cluster, pos, c in round_fn(books, dsub):
            new_books[j][cluster][pos] = c
        if new_books == books:
            break
        books = new_books
    return books


def lloyd_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    k: int,
    max_iter: int,
    np_rounds: bool | None = None,
) -> list[list[list[float]]]:
    """books[m][k][dim/m]: Lloyd's on each of ``m`` subspaces of
    ``vec_col``, all subspaces trained in the SAME jobs — one seed
    collect (the k smallest-md5(id) vectors, sliced per subspace), then
    one pass per round. Nothing is persisted between rounds, and each
    round's plan depends only on literal codewords, so there is no
    lineage blow-up.

    ``np_rounds`` (a test-only override) picks the round; ``None``
    applies the measured crossover: numpy above _LITERAL_K_MAX (where
    the interpreted fold is catastrophic — 30 s/round at k=156, and
    numpy already wins 16-19% at k=32/sf1), Column rounds at small k
    (the per-round mapInPandas overhead regressed the k=8 bench
    trainers 1.2-1.9× at sf0.1 when numpy was unconditional)."""
    # single-file corpora would otherwise run every round's distance
    # math on one core; a no-op at real scale (scan splits > cores
    # already). The projection is NOT persisted: measured at sf0.1 the
    # cache materialization costs more than the per-round re-scan it
    # saves (1.5 s → 2.3 s), and at real scale the training input is a
    # bounded sample.
    base = _vec_base(spread(df), vec_col, id_col)
    if np_rounds is None:
        np_rounds = k > _LITERAL_K_MAX
    round_fn = _round_np if np_rounds else _round_col
    with small_shuffle(df.sparkSession):
        seeds = _md5_head(base, k)
        return _lloyd(seeds, m, max_iter, lambda books, dsub: round_fn(base, books, dsub))


def lloyd_train_np(
    vecs: list[list[float]], seeds: list[list[float]], m: int, max_iter: int
) -> list[list[list[float]]]:
    """DRIVER-side Lloyd over an in-memory vector list: the same loop
    with _partials_np over the whole list as the round, so it is
    bitwise-identical to :func:`lloyd_train` on the same vectors and
    seeds. Exists for SAMPLE-trained index builds: training on a
    bounded md5-ordered sample is the FAISS-standard shape at scale,
    and whenever the sample covers the whole corpus (the correctness
    gate SFs) the result is byte-identical to the distributed trainer,
    so the oracles don't change."""
    import numpy as np

    v = np.asarray([list(map(float, x)) for x in vecs], dtype=np.float64)
    return _lloyd(
        seeds,
        m,
        max_iter,
        lambda books, dsub: _means(zip(*_partials_np(v, books, dsub).values())),
    )


def assign_np(vecs, centroids: list[list[float]]):
    """driver-side batch argmin over an in-memory list — the numpy twin
    of :func:`assign_clusters`' fold and first-min argmin, for
    sample-sized frames."""
    import numpy as np

    v = np.asarray([list(map(float, x)) for x in vecs], dtype=np.float64)
    return np.argmin(_sq_dist_np(v, centroids), axis=1)


def kmeans(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    max_iter: int = 5,
    np_rounds: bool | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means: product quantization with one subspace, i.e.
    :func:`lloyd_train` with m = 1, then one map-only
    :func:`assign_clusters` pass. Returns (assignments (id, cluster),
    final centroids); the assignments are re-derivable from the
    centroids, so nothing is persisted. ``np_rounds`` is
    lloyd_train's test-only round override."""
    centroids = lloyd_train(df, vec_col, id_col, 1, k, max_iter, np_rounds)[0]
    return (
        assign_clusters(df, vec_col, id_col, centroids).select("id", "cluster"),
        centroids,
    )


# --------------------------------------------------------------------------
# greedy k-center coreset selection (farthest-point traversal) — the
# diversity-based data-selection primitive: pick k points maximizing
# pairwise spread, assign every point to its nearest pick. The greedy
# traversal is the classical 2-approximation to the k-center objective
# (Gonzalez 1985); data-curation pipelines use it to draw a coverage
# sample ("coreset") of an embedding corpus before expensive stages.

# Coordinate quantization scale. FLOOR(x * 1e6) is bit-deterministic
# on any engine (no rounding rule, see _portable_mean), and all
# distances thereafter are EXACT integer sums, so the argmax/argmin
# choices — the part ties would corrupt — are engine-portable.
# BIGINT bound: dim * (2 * scale * max|x|)^2 < 2^63 requires
# max|x| <= sqrt(2^63 / dim) / (2 * scale) — at dim 64, scale 1e6
# that is ~1.9e2, NOT 1.5e3 (r4 ADVICE fixed the arithmetic here);
# unit-norm-ish embeddings (max|x| <= 1) still sit ~2 orders inside.
# Past the bound the integer distance wraps SILENTLY (the numpy int64
# matmul in _kc_counts_np too), so kcenter_select checks the actual
# max quantized coordinate and fails loudly instead of corrupting
# picks — see the guard right after the seed collect.
KC_SCALE = 10**6


def _kc_qvec(vec_col):
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(KC_SCALE))).cast("long"),
    )


def _kc_mindist_sql(cents: list[list[int]]) -> str:
    """min over chosen centers of the exact integer squared L2
    distance — integer adds commute, so fold order is irrelevant and
    the value matches any engine's sum over the same terms."""
    return (
        f"array_min(transform({array_sql(cents, i64_sql)}, c -> "
        "aggregate(zip_with(q, c, (x, y) -> (x - y) * (x - y)), "
        "cast(0 as bigint), (acc, x) -> acc + x)))"
    )


def _kc_dist_to_sql(cent: list[int]) -> str:
    """exact integer squared L2 to ONE quantized center literal."""
    return (
        f"aggregate(zip_with(q, {array_sql(cent, i64_sql)}, "
        "(x, y) -> (x - y) * (x - y)), "
        "cast(0 as bigint), (acc, x) -> acc + x)"
    )


def _kc_counts_np(base: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(sel_rank, n) cell sizes via an exact int64 BLAS argmin — the
    large-k assignment path. Unlike the float BLAS path in
    _assign_clusters_np, the expansion ||v||² − 2v·c + ||c||² is
    BITWISE-equal to the per-dimension fold here: every operand is an
    int64 and integer arithmetic has no rounding, so the two paths
    cannot argmin differently (asserted by the path-parity test).
    np.argmin's first-minimum == the earlier pick, matching the
    (dist, rank) struct ordering."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(cents, dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(list(pdf["q"]), dtype=np.int64)
            d = cnorm - 2 * (v @ cmat.T)  # ||v||² constant per row
            yield pd.DataFrame({"sel_rank": np.argmin(d, axis=1) + 1})

    return (
        base.mapInPandas(assign, schema="sel_rank long")
        .groupBy("sel_rank")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def kcenter_select(df: DataFrame, vec_col: str, id_col: str, k: int = 8,
                   incremental: bool | None = None):
    """(sel_rank, vec_id, dist_fp, n_assigned) — the k greedy k-center
    picks in selection order with the coverage radius at selection
    time (dist_fp = the point's min squared distance to the previously
    chosen centers, quantized at KC_SCALE; the seed's is 0) and the
    size of each pick's final nearest-center cell (ties to the earlier
    pick).

    Execution shape: the seed is the minimum-id point; each of the
    k - 1 rounds is ONE map-only scan feeding a TakeOrdered argmax —
    per-partition top-1 heaps, no global sort — collecting exactly one
    row; nothing data-sized ever reaches the driver. Two bitwise-
    identical round strategies (``incremental=None`` switches on
    k > _LITERAL_K_MAX, the codegen-budget threshold):

    - small k RECOMPUTES min-dist from the literal center matrix each
      round — zero shuffle, zero state, O(n·k²/2) total distance
      folds (cheapest below the crossover; the registry default);
    - large k MAINTAINS the running min-dist with one LEAST per round
      over a localCheckpointed frame (the pagerank round pattern) —
      O(n·k) total, and the per-round plan stays one small expression
      instead of a k-wide literal tree that would fall out of codegen
      (the _LITERAL_K_MAX lesson). Assignment above the same
      threshold rides an exact int64 BLAS argmin (see _kc_counts_np —
      integer arithmetic makes the matmul expansion bitwise-equal,
      unlike the float case).
    """
    import math

    from pyspark.sql import Observation

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("id"), _kc_qvec(vec_col).alias("q")
    ).persist()
    if incremental is None:
        incremental = k > _LITERAL_K_MAX
    # Overflow guard (r4 ADVICE): rides the seed's TakeOrdered job as an
    # Observation (every row passes the metrics node before the local
    # top-1, and MAX is retry/speculation-safe, unlike counts), so it
    # costs no extra scan. Past the bound the BIGINT fold AND the numpy
    # int64 matmul wrap silently — fail loudly instead.
    obs = Observation()
    seed_rows = (
        base.observe(
            obs,
            F.max(
                F.expr("array_max(transform(q, x -> abs(x)))")
            ).alias("qmax"),
        )
        .orderBy("id")
        .limit(1)
        .collect()
    )
    seed = seed_rows[0]
    dim = len(seed.q)
    qmax = int(obs.get["qmax"] or 0)
    qbound = math.isqrt((2**63 - 1) // max(dim, 1)) // 2
    if qmax > qbound:
        # Loud-failure path must not leak the persisted frame in the
        # CacheManager (r5 ADVICE).
        base.unpersist()
        raise ValueError(
            f"kcenter_select: max |quantized coordinate| {qmax} exceeds the "
            f"BIGINT-safe bound {qbound} at dim {dim} (KC_SCALE={KC_SCALE}); "
            "integer distances would wrap silently — rescale the input or "
            "lower KC_SCALE"
        )
    # (rank, id, dist-at-selection, quantized vector)
    chosen = [(1, seed.id, 0, list(seed.q))]
    dframe = None
    if incremental:
        dframe = base.select(
            "id", "q", F.expr(_kc_dist_to_sql(chosen[0][3])).alias("d")
        ).localCheckpoint()
    for r in range(2, k + 1):
        if incremental:
            probe = dframe
        else:
            probe = base.select(
                "id", "q",
                F.expr(_kc_mindist_sql([c[3] for c in chosen])).alias("d"),
            )
        far = probe.orderBy(F.desc("d"), F.asc("id")).limit(1).collect()
        if not far or far[0].d == 0:
            # max min-distance 0 = every point coincides with a chosen
            # center: the corpus has < k distinct points and further
            # picks would be duplicates. Greedy radii are
            # non-increasing, so stopping at the first zero equals the
            # oracle's dist_fp > 0 filter over the unrolled rounds.
            break
        row = far[0]
        chosen.append((r, row.id, row.d, list(row.q)))
        if incremental and r < k:
            dframe = dframe.select(
                "id", "q",
                F.least(
                    F.col("d"), F.expr(_kc_dist_to_sql(list(row.q)))
                ).alias("d"),
            ).localCheckpoint()
    cents = [c[3] for c in chosen]
    if len(cents) > _LITERAL_K_MAX:
        counts = _kc_counts_np(base, cents)
    else:
        # nearest chosen center per point, ties to the earlier pick —
        # (dist, rank) structs compare field-by-field, so array_min IS
        # the lexicographic argmin.
        asg = (
            "array_min(transform("
            + array_sql(cents, i64_sql)
            + ", (c, i) -> struct("
            "aggregate(zip_with(q, c, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as bigint), (acc, x) -> acc + x) as d, "
            "i + 1 as r)))"
        )
        counts = (
            base.select(F.expr(f"({asg}).r").cast("long").alias("sel_rank"))
            .groupBy("sel_rank")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    meta = spark.createDataFrame(
        [(int(r), int(i), int(d)) for r, i, d, _ in chosen],
        "sel_rank long, vec_id long, dist_fp long",
    )

    out = (
        meta.join(counts, "sel_rank", "left")
        .select(
            "sel_rank", "vec_id", "dist_fp",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_assigned"),
        )
        .orderBy("sel_rank")
    )
    # k rows: checkpoint eagerly and release the quantized-vector cache
    # (CacheManager holds persisted frames until explicit unpersist)
    return release_after(out, base)


def _kc_dot_to_sql(vec: list[int]) -> str:
    """exact integer dot product of ``q`` with ONE quantized literal."""
    return (
        f"aggregate(zip_with(q, {array_sql(vec, i64_sql)}, (x, y) -> x * y), "
        "cast(0 as bigint), (acc, x) -> acc + x)"
    )


def mmr_select(df: DataFrame, vec_col: str, id_col: str, k: int = 8):
    """(sel_rank, vec_id, rel_fp, mmr_fp) — Maximal Marginal Relevance
    selection (Carbonell & Goldstein 1998) with λ = 1/2: the k greedy
    picks that balance relevance to a query vector against redundancy
    with what is already selected — the diversity-aware reranking step
    of retrieval/RAG pipelines (kcenter_select is its pure-diversity,
    no-query sibling).

    The query is the minimum-id vector (collected once, excluded from
    candidates). Scores stay EXACT BIGINT end-to-end: coordinates
    FLOOR-quantize at KC_SCALE, relevance is the integer dot product
    with the query, and with λ = 1/2 the argmax of
    λ·rel − (1−λ)·max_sim is the argmax of ``rel − max_sim`` — no
    float ever enters, so every tie (the classic MMR instability)
    breaks deterministically by (score desc, id asc) in any engine.
    Pick 1 is pure relevance (max over an empty selected set
    contributes nothing): its mmr_fp equals rel_fp.

    Execution shape mirrors kcenter_select's small-k variant: each
    round is ONE map-only scan over the persisted quantized frame with
    the chosen vectors as plan literals (k ≤ _LITERAL_K_MAX keeps the
    expression inside the codegen budget) feeding a TakeOrdered top-1;
    already-picked ids are excluded with a literal isin, exactly k
    driver rows ever materialize, and the k-row result releases the
    cache via release_after. Overflow guard rides the first job's
    Observation: |rel − max_sim| ≤ 2·qmax²·dim must fit in int64.
    """
    import math

    from pyspark.sql import Observation

    if k > _LITERAL_K_MAX:
        # Loud failure, not silent degradation (r6 ADVICE): past the
        # codegen budget the per-round greatest() over k literal dot
        # folds grows O(k*dim) and falls out of whole-stage codegen.
        # The scale path is kcenter_select's incremental running-max
        # strategy; nothing oracle-backed needs k > _LITERAL_K_MAX.
        raise ValueError(
            f"mmr_select: k={k} exceeds _LITERAL_K_MAX="
            f"{_LITERAL_K_MAX}; the literal score tree would leave the "
            "codegen budget — use kcenter_select's incremental "
            "running-max-sim strategy for large k"
        )
    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("id"), _kc_qvec(vec_col).alias("q")
    ).persist()
    obs = Observation()
    qrows = (
        base.observe(
            obs,
            F.max(F.expr("array_max(transform(q, x -> abs(x)))")).alias("qmax"),
        )
        .orderBy("id")
        .limit(1)
        .collect()
    )
    if not qrows:
        base.unpersist()
        return spark.createDataFrame(
            [], "sel_rank long, vec_id long, rel_fp long, mmr_fp long"
        )
    qrow = qrows[0]
    qv, qid, dim = list(qrow.q), qrow.id, len(qrow.q)
    qmax = int(obs.get["qmax"] or 0)
    qbound = math.isqrt((2**63 - 1) // max(2 * dim, 1))
    if qmax > qbound:
        base.unpersist()  # loud-failure path must not leak (r5 ADVICE)
        raise ValueError(
            f"mmr_select: max |quantized coordinate| {qmax} exceeds the "
            f"BIGINT-safe bound {qbound} at dim {dim} (KC_SCALE={KC_SCALE}); "
            "integer scores would wrap silently — rescale the input"
        )
    rel = F.expr(_kc_dot_to_sql(qv))
    chosen: list[tuple[int, int, int, int]] = []  # (rank, id, rel, score)
    picked_vecs: list[list[int]] = []
    for r in range(1, k + 1):
        cand = base.filter(F.col("id") != qid)
        if chosen:
            cand = cand.filter(
                ~F.col("id").isin([c[1] for c in chosen])
            )
            max_sim = F.greatest(
                *[F.expr(_kc_dot_to_sql(v)) for v in picked_vecs]
            ) if len(picked_vecs) > 1 else F.expr(_kc_dot_to_sql(picked_vecs[0]))
            score = (rel - max_sim).alias("score")
        else:
            score = rel.alias("score")
        top = (
            cand.select("id", "q", rel.alias("rel"), score)
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        chosen.append((r, row.id, int(row.rel), int(row.score)))
        picked_vecs.append(list(row.q))
    out = spark.createDataFrame(
        [(r, i, rl, sc) for r, i, rl, sc in chosen],
        "sel_rank long, vec_id long, rel_fp long, mmr_fp long",
    ).orderBy("sel_rank")

    return release_after(out, base)
