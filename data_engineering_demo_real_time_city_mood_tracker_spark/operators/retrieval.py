"""Lexical retrieval: the shared BM25-lite scorer and a persistent,
lake-native inverted index (Lucene-segment-shaped, parquet-backed).

Scoring is the repo's BM25-lite (k1=1.2, b=0.75, log-free monotone
idf — see plans/queries.py BM25 block for why the log is dropped:
ln() differs by ulps across libms, the rational idf keeps every
arithmetic step bitwise oracle-portable). The index makes the
build-once / append-per-crawl / query-many lifecycle real:

    index/
      postings/seg=<name>/bucket=<0..n-1>/  (token, doc_id, tf, dl)
      stats/seg=<name>.json                 (n_docs, total_dl)

- ``bucket = crc32(token) % n_buckets`` — a probe reads ONLY its query
  terms' buckets (PartitionFilters directory pruning) and pushes the
  token equality into the parquet scan; at 100 TB the probe I/O is the
  query-term postings, not the corpus.
- segments are MERGEABLE partials: df(token) is the posting-row count
  for that token across segments, N = Σ n_docs, avgdl = Σ total_dl /
  Σ n_docs — appending a crawl never re-tokenizes the standing corpus
  (same posture as ``merge_agg_partials`` / the dedup index).
- crash-replay safe: a segment's stats sidecar is written LAST and is
  the commit record — probes only read segments whose stats exist;
  postings use dynamic partition overwrite so re-running a failed
  append repairs the segment in place instead of duplicating postings.
- segment stats are exact integer partials collected by the
  Observation API DURING the postings write (one tokenize pass total,
  r4 — previously a second full corpus pass) and land as zero-job
  JSON sidecars (the same commit-log pattern as ``write_json_meta``
  index metadata): n_docs/total_dl are corpus-sized aggregates but
  2-int results, so neither writing nor merging them needs a Spark
  job — probes resolve committed segments with driver-side file
  reads only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.session import release_after, spread

K1 = 1.2
B = 0.75


def bm25_rank(
    tf: DataFrame,
    query_pairs: list[tuple[int, str]],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    release: bool = True,
) -> DataFrame:
    """Top-``k`` docs per query over a (doc_id, tok, tf, dl) postings
    frame already restricted to query terms.

    df derives from ``tf`` (one row per (doc, tok) ⇒ per-token row
    count == document frequency) — never a second corpus pass; both
    df and the query table broadcast. Per-(query, doc) term scores
    fold in sorted term order so the double sum is partition-order
    independent and bitwise equal to the DuckDB oracle's
    ``list_reduce(list(s ORDER BY term))``.

    .. note:: **release=True (the default) EXECUTES the query at call
       time.** The bounded top-k result is eagerly checkpointed so the
       postings cache can be released immediately (no CacheManager
       leak across calls); the returned frame is therefore already
       materialized and its lineage is truncated at a LogicalRDD —
       ``.explain()`` will not show the postings plan, and further
       composition happens on the k·|queries|-row result, not on a
       lazy plan. Pass ``release=False`` to get the classic lazy frame
       (full plan visible, caller owns the ``tf.unpersist()``).
    """
    spark = tf.sparkSession
    # persist + release_after (NOT a lazy checkpoint): tf feeds the df
    # derivation and the score join, and the result is BOUNDED
    # (k rows per query), so the k-row eager checkpoint at the end
    # releases the cache with no CacheManager leak — while keeping the
    # full postings plan visible to EXPLAIN (a lazy checkpoint
    # truncates lineage at a LogicalRDD, blinding the plan-shape
    # tests that pin the filter-inside-explode contract)
    tf = tf.persist()
    dfr = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # dedupe (query, term): a repeated term in a tokenized query string
    # would otherwise multiply its postings rows through the join,
    # double-counting the term's score and inflating n_terms
    qdf = spark.createDataFrame(
        sorted(set(query_pairs)), "query_id int, term string"
    )
    idf = ((F.lit(n_docs) - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    num = F.col("tf").cast("double") * F.lit(K1 + 1.0)
    den = F.col("tf").cast("double") + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * (F.col("dl").cast("double") / F.lit(avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfr), "tok")
        .join(F.broadcast(qdf), F.col("tok") == F.col("term"))
        .select("query_id", "doc_id", "term", (idf * num / den).alias("s"))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sort_array(
            F.collect_list(F.struct(F.col("term").alias("t"), F.col("s").alias("s")))
        ).alias("_ts"),
    )
    agg = agg.withColumn(
        "score",
        F.aggregate(F.col("_ts"), F.lit(0.0), lambda acc, x: acc + x["s"]),
    ).drop("_ts")
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    out = (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "doc_id",
            "n_terms",
            "score",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
    if not release:
        # plan-inspection / caller-owned-release mode: the lazy frame
        # keeps its full lineage visible to EXPLAIN (release_after's
        # eager checkpoint truncates it at a LogicalRDD); the caller
        # owns tf's unpersist
        return out

    return release_after(out, tf)


def _postings_from_base(base: DataFrame) -> DataFrame:
    """postings from an already-tokenized (doc_id, _toks) frame — split
    out so build_text_index can pin an Observation on the pre-explode
    node (stats ride the write job instead of a second corpus pass)."""
    return (
        base.select(
            "doc_id", F.size("_toks").alias("dl"), F.explode("_toks").alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"), F.min("dl").alias("dl"))
    )


def _stats_path(path: str, segment: str) -> str:
    return f"{path}/stats/seg={segment}.json"


def _segment_stats(spark: SparkSession, path: str) -> dict[str, dict]:
    """{segment: {n_docs, total_dl}} for every COMMITTED segment —
    driver-side sidecar reads, zero Spark jobs (the merge inputs are
    2 ints per segment regardless of corpus size)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_json_meta

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/stats")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return {}
    out = {}
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("seg=") and name.endswith(".json"):
            seg = name[len("seg=") : -len(".json")]
            meta = read_json_meta(spark, f"{path}/stats/{name}")
            if meta is not None:
                out[seg] = meta
    return out


def _bucket(tok_col, n_buckets: int):
    return (F.crc32(F.encode(tok_col, "utf-8")) % n_buckets).cast("int")


def _dyn_overwrite(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """dynamic partition overwrite: only the partitions present in
    ``df`` (this segment) are replaced — idempotent per-segment
    replay, other segments untouched."""
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(path)
    )


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FS API (works on
    any supported filesystem, no-op if absent)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _read_meta_buckets(spark: SparkSession, path: str) -> int | None:
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_json_meta

    meta = read_json_meta(spark, f"{path}/meta.json")
    return int(meta["n_buckets"]) if meta else None


def build_text_index(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n_buckets: int = 64,
    segment: str = "base",
) -> None:
    """Build (or rebuild) the index's ``segment`` from ``docs``.

    ``n_buckets`` is pinned in ``path/meta`` on first build — appends
    and probes read it from there, so an index can never be probed
    with a different bucket modulus than it was built with (a silent
    wrong-bucket prune). Rebuilding a segment DELETES it first (stats
    — the commit record — before postings), so a changed corpus can
    never leave stale bucket partitions behind; postings then land,
    and the fresh stats sidecar lands LAST, recommitting the segment.
    A crash at any point leaves the segment invisible to probes and a
    re-run repairs it in place.

    Stats count EVERY input doc (dl = token count, 0 included): a doc
    that tokenizes to nothing has no postings rows, so deriving
    n_docs/total_dl from written postings would drop it and skew
    idf/avgdl away from the from-scratch definition (_BM25_ORACLE
    counts all docs). They are collected by an ``Observation`` pinned
    on the pre-explode (doc, tokens) node of the SAME job that writes
    the postings — exact integer count/sum, no second tokenize pass —
    and land as the segment's JSON sidecar only after the write
    action succeeded, so the commit record is still last. Because
    ``observe`` counts re-executed/speculative tasks twice, the
    numbers are cross-checked (and recomputed exactly on mismatch or
    under speculation) before they commit — see ``_committed_stats``.
    """
    from pyspark.sql import Observation

    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import tokens
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import write_json_meta

    spark = docs.sparkSession
    pinned = _read_meta_buckets(spark, path)
    if pinned is not None and pinned != n_buckets:
        raise ValueError(
            f"index at {path} was built with n_buckets={pinned}; "
            f"got {n_buckets}"
        )
    if pinned is None:
        write_json_meta(spark, f"{path}/meta.json", {"n_buckets": int(n_buckets)})
    # decommit, then clear: stats first so a crash mid-delete still
    # leaves the segment invisible rather than half-stale
    _fs_delete(spark, _stats_path(path, segment))
    _fs_delete(spark, f"{path}/postings/seg={segment}")
    obs = Observation()
    base = (
        spread(docs)
        .select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks"))
        .observe(
            obs,
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.size("_toks").cast("long")), F.lit(0).cast("long")).alias(
                "total_dl"
            ),
        )
    )
    post = _postings_from_base(base).withColumn(
        "bucket", _bucket(F.col("tok"), n_buckets)
    )
    # repartition on the partition keys before the partitioned write:
    # otherwise every one of the P input tasks fans out a file into
    # every bucket directory (P×n_buckets small files per segment —
    # measured 2048 at test SF). After the repartition each bucket is
    # written by exactly one task → n_buckets files. At real corpus
    # scale raise the partition count (repartition(N, cols)) so file
    # size, not file count, is what's bounded.
    _dyn_overwrite(
        post.withColumn("seg", F.lit(segment)).repartition("seg", "bucket"),
        f"{path}/postings",
        ["seg", "bucket"],
    )
    got = obs.get
    n_docs, total_dl = _committed_stats(
        docs, text_col, int(got["n_docs"]), int(got["total_dl"])
    )
    write_json_meta(
        spark,
        _stats_path(path, segment),
        {"n_docs": n_docs, "total_dl": total_dl},
    )


def _committed_stats(
    docs: DataFrame,
    text_col: str,
    obs_n_docs: int,
    obs_total_dl: int,
    speculative: bool | None = None,
) -> tuple[int, int]:
    """Validate the Observation-derived stats before they become the
    segment's commit record. ``observe`` is accumulator-based: a
    re-executed map stage (fetch failure, executor loss) or a
    speculative duplicate task counts its rows AGAIN, silently
    inflating n_docs/total_dl — and those feed BM25 idf/avgdl. The
    dedicated agg this fusion replaced was exactly-once, so guard the
    fused path: an exactly-once driver-side ``docs.count()`` is cheap
    (no tokenize, no explode), and any disagreement — or speculation
    being enabled at all, where a matching count can still hide a
    duplicated total_dl — falls back to the exactly-once stats
    aggregation. The extra tokenize pass is paid only on the retry /
    speculation path, never in the common case."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import tokens

    spark = docs.sparkSession
    if speculative is None:
        # spark.speculation is a core (launch-time) conf — read it from
        # the context, where it actually lives, not the SQL runtime conf
        speculative = (
            str(
                spark.sparkContext.getConf().get("spark.speculation", "false")
            ).lower()
            == "true"
        )
    if not speculative and obs_n_docs == docs.count():
        return obs_n_docs, obs_total_dl
    row = (
        docs.select(tokens(F.col(text_col)).alias("_toks"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(
                F.sum(F.size("_toks").cast("long")), F.lit(0).cast("long")
            ).alias("total_dl"),
        )
        .first()
    )
    return int(row["n_docs"]), int(row["total_dl"])


def append_text_index(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    segment: str,
    n_buckets: int | None = None,
) -> None:
    """Add a crawl increment as a new segment — the standing corpus is
    never re-read or re-tokenized. Same commit ordering as build; the
    bucket modulus comes from the index's own meta (passing one that
    disagrees is an error, not a silent wrong-bucket write). On a
    fresh path the first append bootstraps the index and pins the
    modulus (streaming ingestion starts from nothing)."""
    pinned = _read_meta_buckets(docs.sparkSession, path)
    if pinned is not None and n_buckets is not None and n_buckets != pinned:
        raise ValueError(
            f"index at {path} was built with n_buckets={pinned}; got {n_buckets}"
        )
    build_text_index(
        docs,
        text_col,
        id_col,
        path,
        n_buckets=pinned if pinned is not None else (n_buckets or 64),
        segment=segment,
    )


def query_text_index(
    spark: SparkSession,
    path: str,
    query_pairs: list[tuple[int, str]],
    k: int = 10,
    release: bool = True,
) -> DataFrame:
    """BM25 top-``k`` per query against the persistent index.

    Reads ONLY committed segments (the stats sidecar is the commit
    record), ONLY the query terms' hash buckets (PartitionFilters
    directory pruning, modulus from the index's own meta — never a
    caller guess), with the token equality pushed into the parquet
    scan — probe I/O is independent of corpus size. Corpus stats
    merge from the per-segment partials driver-side (exact integer
    arithmetic ⇒ bitwise equal to a from-scratch computation, zero
    Spark jobs before the probe scan itself)."""
    import zlib

    n_buckets = _read_meta_buckets(spark, path)
    if n_buckets is None:
        raise ValueError(f"no index meta at {path} — build_text_index first")
    seg_stats = _segment_stats(spark, path)
    segs = sorted(seg_stats)
    n_total = sum(int(s["n_docs"]) for s in seg_stats.values())
    if n_total == 0:
        raise ValueError(
            f"no committed segments at {path} — every append crashed "
            "before its stats sidecar landed (or the corpus was empty); "
            "re-run build/append_text_index to repair"
        )
    dl_total = sum(int(s["total_dl"]) for s in seg_stats.values())
    n_docs, avgdl = n_total, float(dl_total) / n_total
    terms = sorted({t for _, t in query_pairs})
    buckets = sorted({zlib.crc32(t.encode("utf-8")) % n_buckets for t in terms})
    tf = (
        spark.read.parquet(f"{path}/postings")
        .filter(
            F.col("seg").isin(segs)
            & F.col("bucket").isin(buckets)
            & F.col("tok").isin(terms)
        )
        .select("doc_id", "tok", "tf", "dl")
    )
    return bm25_rank(tf, query_pairs, n_docs, avgdl, k=k, release=release)
