"""Streaming corpus scoring under a batch-trained selection model —
the serve side of the train-daily / score-the-crawl loop: the quality
probe (operators/lm.train_quality_probe) learns its B+1 integers
offline, and every arriving document is scored by a STATELESS map —
no shuffle, no state, no watermark — so append mode emits each score
exactly once per input row and the operator runs at source
throughput.

The map-only formulation replaces the batch trainer's feature-table
aggregation with array expressions per document: distinct hashed
buckets via array_distinct(transform(...)), weight lookup via
element_at on the literal weight vector (Catalyst constant-folds the
257-literal array, so no per-row construction). Integer sums are
order-independent, so the streamed score is BITWISE the batch score
(asserted by the stream==batch parity test) — a float reformulation
could not make that promise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import hex4, tokens


def quality_score_expr(w: dict[int, int], kc: int, text_col: str,
                       n_buckets: int = 256):
    """Column: the trained probe's centered integer score of
    ``text_col`` — one stateless expression, usable identically in a
    batch projection, a streaming select, or a keep/drop filter
    predicate. ``w``/``kc`` come from train_quality_probe (the b = -1
    sentinel stays 0; bucket b lives at literal index b + 2, matching
    lm._qc_weight_expr)."""
    arr = F.expr(
        "array(" + ",".join(f"{w[b]}L" for b in range(-1, n_buckets)) + ")"
    )
    buckets = F.array_distinct(
        F.transform(
            tokens(F.col(text_col)),
            lambda t: hex4(F.md5(t), 1, n_buckets),
        )
    )
    score = F.aggregate(
        buckets,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(arr, (b + F.lit(2)).cast("int")),
    )
    return score - F.lit(kc)


def quality_score_stream(stream_docs: DataFrame, w: dict[int, int], kc: int,
                         text_col: str = "text", id_col: str = "doc_id",
                         n_buckets: int = 256) -> DataFrame:
    """(doc_id, score_fp) over a document stream — map-only, append
    mode, exactly-once per input row. Scores are bitwise equal to the
    batch trainer's scoring of the same documents."""
    return stream_docs.select(
        F.col(id_col).alias("doc_id"),
        quality_score_expr(w, kc, text_col, n_buckets).alias("score_fp"),
    )


def dsir_score_expr(w: dict[int, int], text_col: str,
                    n_buckets: int = 4096):
    """Column: the DSIR importance score of ``text_col`` under a
    batch-trained bucket-ratio table (operators/lm.dsir_weight_table)
    — mean over token OCCURRENCES (not distinct buckets: DSIR weighs
    frequency) of the quantized target/source ratio. One stateless
    integer expression; the literal weight array is constant-folded
    once per plan. Integer sums are order-independent, so the
    streamed score is BITWISE the batch dsir_scores value for the
    same document (parity test). Returns the (sum, n_tokens) column
    pair so callers divide once and can drop zero-token docs (absent
    from the batch frame too)."""
    arr = F.expr(
        "array(" + ",".join(f"{w[b]}L" for b in range(n_buckets)) + ")"
    )
    buckets = F.transform(
        tokens(F.col(text_col)),
        lambda t: hex4(F.md5(t), 1, n_buckets),
    )
    s = F.aggregate(
        buckets,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(arr, (b + F.lit(1)).cast("int")),
    )
    nt = F.size(buckets)
    return s, nt


def dsir_score_stream(stream_docs: DataFrame, w: dict[int, int],
                      text_col: str = "text", id_col: str = "doc_id",
                      n_buckets: int = 4096) -> DataFrame:
    """(doc_id, n_tokens, score_fp) over a document stream — the serve
    side of DSIR importance resampling: map-only, append mode,
    exactly-once per input row, scores bitwise equal to the batch
    dsir_scores of the same documents. Zero-token docs are dropped,
    matching their absence from the batch frame."""
    s_col, nt_col = dsir_score_expr(w, text_col, n_buckets)
    return (
        stream_docs.select(
            F.col(id_col).alias("doc_id"),
            nt_col.cast("long").alias("n_tokens"),
            s_col.alias("_s"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            F.expr("_s div n_tokens").cast("long").alias("score_fp"),
        )
    )


def contamination_expr(bench_shingles: list[str], text_col: str,
                       n: int = 5):
    """Column: how many of ``bench_shingles`` (distinct n-gram
    shingles of a held-out eval set) occur in ``text_col`` — the
    decontamination signal, as ONE stateless expression. The bench
    set rides as a literal array (eval benchmarks are small by
    construction — KBs to MBs — so this is the honest production
    shape; a corpus-sized reference set would use the stream-static
    broadcast join in streaming/joins.py instead). Catalyst
    constant-folds the literal, array_intersect hashes it once per
    batch, and integer counts make the streamed signal BITWISE the
    batch contamination_check's n_overlap."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import shingles_from_tokens, tokens

    doc_sh = F.array_distinct(shingles_from_tokens(tokens(F.col(text_col)), n))
    bench = F.array(*[F.lit(s) for s in bench_shingles])
    return F.size(F.array_intersect(doc_sh, bench)).cast("long")


def contamination_filter_stream(stream_docs: DataFrame,
                                bench_shingles: list[str],
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                max_overlap: int = 2,
                                n: int = 5) -> DataFrame:
    """Decontamination at INGEST: documents overlapping the eval set
    in more than ``max_overlap`` distinct n-gram shingles are dropped
    before they ever land in the training corpus — map-only, no
    state, no watermark, append mode exactly-once per surviving row.
    Emits (doc_id, n_overlap) for the keepers; the same expression
    works as a batch filter, and the streamed n_overlap is bitwise
    the batch contamination_check's (stream==batch parity test)."""
    ov = contamination_expr(bench_shingles, text_col, n)
    return (
        stream_docs.select(F.col(id_col).alias("doc_id"), ov.alias("n_overlap"))
        .filter(F.col("n_overlap") <= max_overlap)
    )


def char_gini_cols(text_col: str):
    """the char_gini_quality columns as STATELESS per-row expressions —
    usable identically in a batch projection or a streaming select.

    The batch query counts characters with a (doc, char)-keyed shuffle
    aggregation; a stream cannot shuffle-agg statelessly, so this
    reformulates the same integers as one row-local fold: sort the
    char array, fold run-lengths, accumulate run*run into ss. Integer
    run counts are exactly the batch (doc, char) counts, so n_chars /
    gini_num / gini_den / is_low_diversity are BITWISE the batch
    columns (parity test) — the junk gate can run at ingest with no
    state and no watermark."""
    chars = F.array_sort(F.split(F.col(text_col), ""))
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        # two-char sentinel: can never equal a single split() char
        F.lit("__init").alias("prev"),
        zero.alias("run"),
        zero.alias("ss"),
    )
    folded = F.aggregate(
        chars,
        acc0,
        lambda a, c: F.struct(
            c.alias("prev"),
            F.when(c == a["prev"], a["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(c == a["prev"], a["ss"])
            .otherwise(a["ss"] + a["run"] * a["run"])
            .alias("ss"),
        ),
        lambda a: a["ss"] + a["run"] * a["run"],
    )
    nonempty = F.coalesce(F.length(F.col(text_col)) >= 1, F.lit(False))
    n = F.when(nonempty, F.size(chars).cast("long")).otherwise(zero)
    ss = F.when(nonempty, folded).otherwise(zero)
    return [
        n.alias("n_chars"),
        (n * n - ss).alias("gini_num"),
        (n * n).alias("gini_den"),
        # empty/NULL docs: no diversity evidence -> flagged (== batch)
        F.when(nonempty, 2 * (n * n - ss) < n * n)
        .otherwise(F.lit(True))
        .alias("is_low_diversity"),
    ]


def char_gini_stream(stream_docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_chars, gini_num, gini_den, is_low_diversity) over a
    document stream — the char_gini_quality junk gate at ingest:
    map-only, append mode, exactly-once per input row, BITWISE the
    batch query's columns."""
    return stream_docs.select(
        F.col(id_col).alias("doc_id"), *char_gini_cols(text_col)
    )
