"""Distributed BPE merge training (tokenizer prep for LLM corpora).

Classic byte-pair-encoding merge learning (Sennrich et al. 2016,
public algorithm), re-shaped for Spark: the corpus collapses to a
word-frequency table in ONE shuffle (vocabulary-sized from then on —
Zipf makes this tiny relative to the corpus), and every merge round
is a map-only pair-merge over that table plus one tiny aggregation to
pick the next pair. The per-round driver collect is a single (pair,
count) row — O(1), like the k-means centroid collect. At 100 TB the
iteration frame is ~10^7 vocabulary rows regardless of corpus size.

Merging is a JVM-side ``F.aggregate`` left fold over the symbol
array — greedy leftmost non-overlapping application, exactly the BPE
rule semantics — so there is no Python in the loop and no regex
escaping hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.functions import text as T
from data_engineering_demo_real_time_city_mood_tracker_spark.session import small_shuffle, spread


def word_frequencies(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, weight) — the one corpus-wide shuffle (map-side combined).
    ``spread`` first: a single-split scan would pin the tokenize +
    explode map stage to one core."""

    toked = spread(docs).select(T.tokens(F.col(text_col)).alias("_toks"))
    return (
        toked.select(F.explode("_toks").alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _merge_pair(syms, left: str, right: str):
    """greedy leftmost non-overlapping merge of (left, right) in a
    symbol array, as a codegen'd left fold: a just-merged symbol never
    re-matches as ``left`` within the same pass (its text differs),
    matching the standard simultaneous-application rule."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _segment(word, merges):
    """``word`` split into characters, then every merge applied in
    rank order."""
    syms = F.split(word, "")
    for left, right in merges:
        syms = _merge_pair(syms, left, right)
    return syms


def _pair_counts(words: DataFrame) -> DataFrame:
    """(pair_left, pair_right, n) weighted adjacent-pair counts."""
    pairs = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("l"),
                F.element_at("syms", (i + 1).cast("int")).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        words.select(F.explode(pairs).alias("p"), "weight")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("weight").alias("n"))
    )


def train_bpe(docs: DataFrame, text_col: str, n_merges: int = 8) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns (rank, left, right,
    pair_count) with rank 1 = first merge learned. Deterministic:
    ties on count break on (left, right) lexicographic order."""
    return docs.sparkSession.createDataFrame(
        train_bpe_merge_list(docs, text_col, n_merges),
        "rank bigint, left string, right string, pair_count bigint",
    )


def train_bpe_merge_list(
    docs: DataFrame, text_col: str, n_merges: int = 8
) -> list[tuple[int, str, str, int]]:
    """:func:`train_bpe`'s merge table as the driver-side list the
    trainer already holds — the apply-side callers (encode, fertility)
    need plan literals, so round-tripping the 8-row list through
    createDataFrame → orderBy → collect was two pure-overhead jobs."""
    from contextlib import ExitStack

    words = word_frequencies(docs, text_col).withColumn(
        "syms", F.split("word", "")
    )
    words = words.persist()
    merges: list[tuple[int, str, str, int]] = []
    live, prev = words, None
    # small_shuffle scoped to rounds 2+ (r10): from round 2 every round's job
    # runs over the CACHED vocabulary frame — bounded by distinct
    # words, tiny at any corpus scale — so AQE's per-exchange
    # re-planning and the session's corpus-sized shuffle.partitions are
    # pure scheduling overhead there (the same measured trade as the
    # k-means trainer: rounds 2-8 ran ~0.5 s each at sf0.1, ~0.15 s
    # scoped). Round 1 is DIFFERENT: its collect materializes the
    # corpus-wide word_frequencies shuffle, whose reduce side is
    # vocabulary-CARDINALITY-sized (O(10^8) keys at 100 TB of text,
    # not k×dim-bounded) — that shuffle must run at the session's
    # partitions with AQE skew handling on, so the scope is entered
    # only after it. Results are exact aggregations, unaffected by
    # partitioning.
    try:
        with ExitStack() as scope:
            for rank in range(1, n_merges + 1):
                if rank == 2:
                    scope.enter_context(small_shuffle(docs.sparkSession))
                # this collect is the round's ONLY job: it computes the pair
                # counts AND populates `live`'s cache as a side effect, so
                # no separate materialization pass is needed (a per-round
                # nxt.count() cost ~2 s of pure job overhead at sf0.1)
                top = (
                    _pair_counts(live)
                    .orderBy(F.col("n").desc(), "l", "r")
                    .limit(1)
                    .collect()
                )
                if prev is not None:
                    prev.unpersist()  # safe: `live` is materialized now
                if not top:
                    break
                left, right, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
                merges.append((rank, left, right, n))
                nxt = live.select(
                    "word", "weight",
                    _merge_pair(F.col("syms"), left, right).alias("syms"),
                ).persist()
                live, prev = nxt, live
    finally:
        for df in (live, prev, words):
            if df is not None:
                df.unpersist()
    return merges


def encode_bpe(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """The APPLY side of the tokenizer: segment every document with a
    learned merge table — (id, n_words, n_subwords, subwords).

    The merge rules ride the plan as literals and are applied in rank
    order, each rule one greedy-leftmost fold (:func:`_merge_pair`,
    the same pass the trainer uses — so encoding reproduces training
    segmentation exactly). The folds run over the DISTINCT vocabulary,
    not per word instance: natural corpora repeat words heavily
    (Zipf), so segmenting each distinct word once and joining the
    segmentation back to the positional instances cut the m-nested
    fold evaluations by the corpus' repetition factor (measured 3× at
    sf0.1 over the inline map-only form). Two bounded shuffles — the
    word-keyed segmentation join and the id-keyed reassembly (ordered
    by position, so the subword SEQUENCE is exact); per-doc arrays
    re-assemble with sort_array over (pos, subs) structs.
    """


    toked = spread(docs).select(
        F.col(id_col).alias("id"),
        F.filter(T.tokens(F.col(text_col)), lambda w: F.length(w) > 0).alias("_toks"),
    )
    # posexplode_outer (r9): zero-word docs keep a (null, null) row, so
    # the reassembly groupBy already covers EVERY doc — the old third
    # corpus scan (ids) + left outer join existed only to re-attach
    # empty docs and is gone (plan: 3 parquet scans + spread Exchanges
    # → 2, one join removed). count("word") skips the null instance and
    # the null rows drop out of collect_list via the when() guard, so
    # every output value is unchanged.
    inst = toked.select("id", F.posexplode_outer("_toks").alias("pos", "word"))
    vocab = inst.select("word").where(F.col("word").isNotNull()).distinct()
    segd = vocab.select("word", _segment(F.col("word"), merges).alias("subs"))
    return (
        inst.join(segd, "word", "left")
        .groupBy("id")
        .agg(
            F.count("word").cast("int").alias("n_words"),
            F.flatten(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("word").isNotNull(),
                                F.struct(F.col("pos"), F.col("subs")),
                            )
                        )
                    ),
                    lambda s: s["subs"],
                )
            ).alias("subwords"),
        )
        .select(
            "id",
            "n_words",
            F.size("subwords").alias("n_subwords"),
            "subwords",
        )
    )


def subword_counts(
    docs: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    group_col: str,
) -> DataFrame:
    """Per-``group_col`` tokenizer statistics — (grp, n_docs,
    total_words, total_subwords) — WITHOUT materializing subword
    sequences: fertility-style evals only need counts, so the
    segmentation fold runs once per DISTINCT word producing just
    size(segmentation), the instance join carries one small int, and
    there is no per-doc reassembly groupBy and no corpus-sized join
    back to the docs table (the group column rides through the
    explode). Shuffles: vocab distinct, the word-keyed count join,
    and a group-keyed agg with map-side combine — none carries
    subword arrays."""


    inst = spread(docs).select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.filter(T.tokens(F.col(text_col)), lambda w: F.length(w) > 0)
        ).alias("word"),
    )
    segd = (
        inst.select("word")
        .distinct()
        .select("word", F.size(_segment(F.col("word"), merges)).alias("n_subs"))
    )
    per_grp = (
        inst.join(segd, "word")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_words"),
            F.sum("n_subs").cast("long").alias("total_subwords"),
        )
    )
    base = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return base.join(per_grp, "grp", "left").select(
        "grp",
        "n_docs",
        F.coalesce("total_words", F.lit(0)).alias("total_words"),
        F.coalesce("total_subwords", F.lit(0)).alias("total_subwords"),
    )
