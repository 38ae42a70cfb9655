"""Physical-plan assertions (SURVEY.md §5): the 100 TB posture is only
real if the optimized plans keep it — broadcast joins stay broadcast,
scans are pruned and filtered at the source, and no hot path falls back
to row-at-a-time Python.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# Queries that intentionally use Arrow-batched Python (mapInPandas
# decode step) — everything else must stay JVM-side.
PYTHON_OK = {
    "multimodal_meta",
    "multimodal_frames",
    "binary_ingest",
    "image_dedup_dhash",
    "audio_dedup_energy",  # WAV synth + RMS decode: the Arrow stage IS the op
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_product(spark, sf_dir, name):
    plan = plan_of(QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - PYTHON_OK))
def test_no_python_udf_in_hot_path(spark, sf_dir, name):
    plan = plan_of(QUERIES[name](spark, sf_dir))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"{name} falls back to Python ({marker})"


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(QUERIES["pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read join keys we never use
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for unused in ("l_partkey", "l_suppkey", "l_orderkey"):
        assert unused not in read_schema, f"scan reads unused column {unused}"


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = plan_of(QUERIES["regional_revenue"](spark, sf_dir))
    # customer, nation, region all arrive via broadcast — the only
    # shuffled join is lineitem⋈orders.
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_top_customers_broadcasts_customer(spark, sf_dir):
    plan = plan_of(QUERIES["top_customers"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_mood_pipeline_single_scan_conditional_agg(spark, sf_dir):
    plan = plan_of(QUERIES["mood_pipeline"](spark, sf_dir))
    # ONE scan of events (tree node + its details header = 2 mentions);
    # the naive 3-branch translation scans it three times
    assert plan.count("Scan parquet") <= 2
    # aggregation present (min_by → ObjectHashAggregate)
    assert "Aggregate" in plan
    assert "BatchEvalPython" not in plan
    # event_type filters reach the parquet source
    assert "PushedFilters" in plan and "event_type" in plan


def test_minhash_signatures_map_only(spark, sf_dir):
    """Signature generation must not shuffle on data keys (array_min ∘
    transform is per-row). Only the round-robin spread repartition —
    a local-mode parallelism fix — may appear, never a hash exchange
    from a groupBy/join."""
    plan = plan_of(QUERIES["minhash_signatures"](spark, sf_dir))
    assert "hashpartitioning" not in plan, "signatures must not hash-shuffle"
    assert "HashAggregate" not in plan, "signatures must not aggregate"


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path_factory):
    """orders ⋈ lineitem on o_orderkey with aligned bucketing: both
    sides scan pre-bucketed files — the join plan has NO Exchange, and
    results are identical to the plain shuffled join."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.bucketed import (
        bucketed_equi_join,
        write_bucketed,
    )

    base = tmp_path_factory.mktemp("bucketed")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    line = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", 4, str(base / "orders"))
    write_bucketed(line, "b_lineitem", "o_orderkey", 4, str(base / "lineitem"))
    try:
        joined = bucketed_equi_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = plan_of(joined)
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert "SortMergeJoin" in plan

        expected = orders.join(line, "o_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_groupby_no_exchange(spark, sf_dir, tmp_path_factory):
    """groupBy on the bucket key reuses the on-disk hash layout: no
    Exchange before the final aggregate."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.bucketed import write_bucketed

    base = tmp_path_factory.mktemp("bucketed_agg")
    line = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(line, "b_line_agg", "l_orderkey", 4, str(base / "line"))
    try:
        agg = (
            spark.table("b_line_agg")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = plan_of(agg)
        assert "Exchange" not in plan, "bucketed groupBy must not shuffle"
    finally:
        spark.sql("DROP TABLE IF EXISTS b_line_agg")


def test_partitioned_write_prunes_scan(spark, sf_dir, tmp_path_factory):
    """date-partitioned lake layout: an equality filter on the
    partition key reaches the scan as a PartitionFilter and the plan
    reads only that directory's files."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.pipelines import (
        read_partition,
        write_partitioned,
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    base = str(tmp_path_factory.mktemp("lake") / "events")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    write_partitioned(ev, base, "event_date")

    dates = [r.event_date for r in ev.select("event_date").distinct().collect()]
    assert len(dates) > 1, "need multiple partitions for a pruning test"
    one = read_partition(spark, base, event_date=str(dates[0]))
    plan = plan_of(one.groupBy("event_type").count())
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]

    # the pruned read returns exactly that day's rows
    expected = ev.filter(F.col("event_date") == dates[0]).count()
    assert one.count() == expected


def _exchanges(plan: str) -> tuple[int, int]:
    """(shuffle_exchanges, broadcast_exchanges) node counts."""
    import re

    shuffle = len(re.findall(r"\(\d+\) Exchange\b", plan))
    bcast = len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))
    return shuffle, bcast


def test_min_cost_supplier_single_shuffle(spark, sf_dir):
    """the window min and the tie-break groupBy must share ONE
    l_partkey exchange; part and supplier arrive via broadcast."""
    plan = plan_of(QUERIES["min_cost_supplier"](spark, sf_dir))
    shuffle, bcast = _exchanges(plan)
    assert shuffle <= 1, f"expected one shuffle, got {shuffle}"
    assert bcast >= 2, "part and supplier dims must broadcast"


def test_disjunctive_filter_pushdown(spark, sf_dir):
    """Q19-style OR-of-ANDs: the quantity-range union must reach the
    lineitem scan and the brand/size union the part scan."""
    plan = plan_of(QUERIES["disjunctive_filter"](spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity,1.0" in l and "Or(" in l for l in pushed), "lineitem scan missing quantity-range pushdown"
    assert any("p_brand,Brand#12" in l for l in pushed), "part scan missing brand/size pushdown"


def test_promo_share_one_shuffle(spark, sf_dir):
    """numerator and denominator share one agg shuffle; part broadcast."""
    plan = plan_of(QUERIES["promo_revenue_share"](spark, sf_dir))
    shuffle, bcast = _exchanges(plan)
    assert shuffle <= 1 and bcast >= 1


def test_contamination_check_broadcasts_benchmark(spark, sf_dir):
    """the benchmark shingle set must broadcast (corpus never shuffled
    against itself) and the doc_id split must reach the parquet scan."""
    plan = plan_of(QUERIES["contamination_check"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(doc_id,25)" in plan


def test_sequence_packing_two_level_prefix_sum(spark, sf_dir):
    """the corpus-wide prefix sum must be the two-level scan: the
    per-document running sum is a Window PARTITIONED BY the bucket key
    (an unpartitioned window funnels the corpus into one task); only
    the bucket-totals frame (one row per bucket) uses a global window,
    and the offsets come back via broadcast, not a shuffle join."""
    plan = plan_of(QUERIES["sequence_packing"](spark, sf_dir))
    win_args = [
        l for l in plan.splitlines() if "windowspecdefinition" in l
    ]
    per_doc = [l for l in win_args if "sum(n_tok" in l]
    assert per_doc and all("], [bucket#" in l for l in per_doc), per_doc
    assert "BroadcastHashJoin" in plan


def test_corpus_prep_single_shuffle(spark, sf_dir):
    """PII redact → normalize → quality gate → exact dedup must fuse
    into one codegen pass over the scan plus ONE md5-keyed exchange
    (min_by carries the survivor's attributes through the agg — no
    join back to the corpus)."""
    plan = plan_of(QUERIES["corpus_prep_pipeline"](spark, sf_dir))
    shuffle, _ = _exchanges(plan)
    assert shuffle <= 1, f"expected one shuffle, got {shuffle}"
    assert "Join" not in plan, "dedup survivor must not join back to the corpus"


def test_query_views_compose_with_pushdown(spark, sf_dir):
    """registry queries exposed as SQL views stay lazy logical plans:
    a filter written OVER the view must reach the parquet scan under
    it (no materialization boundary)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import register_query_views

    register_query_views(spark, sf_dir, ["pricing_summary", "mood_pipeline"])
    df = spark.sql(
        "SELECT * FROM q_pricing_summary WHERE l_returnflag = 'A'"
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1].split("]")[0], (
        "filter over the view must push into the lineitem scan"
    )
    assert spark.sql("SELECT COUNT(*) FROM q_mood_pipeline").collect()[0][0] > 0


def test_funnel_single_user_shuffle(spark, sf_dir):
    """The three chained stage windows + per-user rollup must share ONE
    user_id exchange — the funnel's whole cost at scale."""
    plan = plan_of(QUERIES["funnel_analysis"](spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_cohort_single_user_shuffle(spark, sf_dir):
    """Cohort assignment (window min) and activity rows ride the same
    user_id exchange; no fact-fact join."""
    plan = plan_of(QUERIES["cohort_retention"](spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_cdc_apply_single_shuffle(spark, sf_dir):
    """Last-writer-wins row_number and the per-key op count share one
    user_id exchange (both windows partition identically)."""
    plan = plan_of(QUERIES["cdc_apply"](spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_small_qty_revenue_all_broadcast(spark, sf_dir):
    """Q17 shape: brand slice and per-part averages both broadcast —
    the lineitem facts must never reach a shuffled join."""
    plan = plan_of(QUERIES["small_qty_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_customer_order_distribution_pruned_scans(spark, sf_dir):
    """Q13 shape: orders are aggregated BEFORE the dim join, so both
    scans must be pruned to their single key column."""
    plan = plan_of(QUERIES["customer_order_distribution"](spark, sf_dir))
    schemas = [l.strip() for l in plan.splitlines() if "ReadSchema" in l]
    assert any(s.endswith("struct<c_custkey:bigint>") for s in schemas), schemas
    assert any(s.endswith("struct<o_custkey:bigint>") for s in schemas), schemas


def test_robust_outliers_broadcasts_scalars(spark, sf_dir):
    """Median/MAD per-type scalar frames broadcast back onto the fact
    scan; the facts themselves are never reshuffled."""
    plan = plan_of(QUERIES["robust_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_hybrid_search_prunes_doc_scan(spark, sf_dir):
    """the documents scan must read only (doc_id, text) — the token
    arrays derive from text, nothing else crosses the broadcast."""
    plan = plan_of(QUERIES["hybrid_search"](spark, sf_dir))
    schemas = [l.strip() for l in plan.splitlines() if "ReadSchema" in l]
    doc_lines = [s for s in schemas if "text" in s]
    assert doc_lines, schemas
    for s in doc_lines:
        for unused in ("lang", "source", "n_chars"):
            assert unused not in s, s


def test_bm25_broadcasts_and_filters_inside_explode(spark, sf_dir):
    """bm25: df/query tables broadcast (no fact-fact SMJ), and the
    query-term filter runs INSIDE the token array so the Generate
    emits only query-term postings (never the full token stream)."""
    # _release=False: the registry default eagerly checkpoints the
    # k-row result (cache hygiene), which truncates EXPLAIN at a
    # LogicalRDD — the plan-inspection mode keeps the lineage visible
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import q_bm25_topk

    lazy = q_bm25_topk(spark, sf_dir, _release=False)
    try:
        plan = plan_of(lazy)
    finally:
        spark.catalog.clearCache()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # formatted mode prints the Generate expression in an Arguments
    # block: assert the explode runs over the filtered array and no
    # unfiltered full-token explode exists anywhere in the plan
    assert "Generate" in plan and "explode(filter(" in plan
    assert "explode(_toks" not in plan, "unfiltered token explode in plan"


def test_returned_revenue_dims_join_the_agg_frame(spark, sf_dir):
    """Q10 analog: the facts aggregate to (custkey, revenue) before
    any dim join — customer/nation arrive via broadcast onto the
    dimension-sized agg frame, and the top-20 is a TakeOrdered (no
    global sort)."""
    plan = plan_of(QUERIES["returned_revenue_customers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    # the custkey aggregation exists as its own node feeding the dim
    # joins — customer columns must not appear in any grouping key
    agg_lines = [l for l in plan.splitlines() if "Keys" in l and "o_custkey" in l]
    assert agg_lines, "fact agg keyed on o_custkey missing"
    assert not any("c_name" in l for l in agg_lines), "dim attrs inside the fact agg"


def test_supplier_variety_anti_join_broadcast(spark, sf_dir):
    """Q16 analog: the excluded-supplier anti-join is broadcast and the
    part slice is pushed to the part scan."""
    plan = plan_of(QUERIES["supplier_part_variety"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "p_size IN" in plan or "In(p_size" in plan  # pushed slice


def test_data_quality_single_events_scan(spark, sf_dir):
    """the 8 single-table metrics must come from ONE events scan — a
    per-check scan design would show up as multiple events readers."""
    plan = plan_of(QUERIES["data_quality_report"](spark, sf_dir))
    assert plan.count("events.parquet") == 1


def test_seasonal_baseline_broadcasts_profile(spark, sf_dir):
    """the |types|×24 seasonal profile must come back as a broadcast
    join — the fact scan is never shuffled for the enrichment."""
    plan = plan_of(QUERIES["seasonal_baseline"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_negative_sampling_pool_is_broadcast_nested_loop(spark, sf_dir):
    """queries × constant-size pool: a BroadcastNestedLoopJoin over the
    64-row pool is the intended shape (linear in |Q|); a shuffled or
    cartesian plan would mean the pool stopped being constant-sized."""
    plan = plan_of(QUERIES["negative_sampling"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_kcenter_round_scan_is_map_only(spark, sf_dir):
    """Each greedy k-center round is a literal-matrix distance map over
    the cached quantized frame feeding a TakeOrdered top-1 — zero
    shuffle anywhere: the argmax is per-partition heaps merged on the
    driver, so a round's cost is exactly one scan at any corpus
    size."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.clustering import (
        _kc_mindist_sql,
        _kc_qvec,
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("id"), _kc_qvec("embedding").alias("q")
    ).persist()
    try:
        base.count()
        dim = len(base.first().q)
        cents = [[0] * dim, [1000] * dim]
        probe = (
            base.select(
                "id", F.expr(_kc_mindist_sql(cents)).alias("d")
            )
            .orderBy(F.desc("d"), F.asc("id"))
            .limit(1)
        )
        plan = plan_of(probe)
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan
    finally:
        base.unpersist()


def test_gopher_rules_map_only(spark, sf_dir):
    """the heuristic gate is one pass over the scan — no shuffle, no
    join, no aggregation."""
    plan = plan_of(QUERIES["gopher_rules"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_gopher_rules_wide_doc_no_overflow(spark, tmp_path):
    """r4 ADVICE: a 0-seeded fold is IntegerType, so 1000000 * sum
    wrapped (ANSI off) past ~2147 total word chars — real web-document
    lengths, never exercised by the 10-99-word bench corpus. The fold
    and ppm scaling are BIGINT now; a 50k-char doc must produce the
    exact positive ppm values, not 32-bit garbage."""
    n, wlen = 5000, 10  # 50_000 word chars: 1e6 * 50_000 >> 2^31
    words = [f"w{i % 97:0{wlen - 1}d}" for i in range(n)]
    doc_dir = tmp_path / "docs"
    spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    ).write.parquet(str(doc_dir / "documents.parquet"))
    row = QUERIES["gopher_rules"](spark, str(doc_dir)).collect()[0]
    assert row["n_words"] == n
    assert row["mean_word_len_ppm"] == wlen * 1_000_000
    assert row["distinct_ppm"] == (97 * 1_000_000) // n
    assert row["stop_hits"] == 0 and row["keep"] is False


def test_sq8_topk_broadcasts_queries_no_smj(spark, sf_dir):
    """SQ8 ranking keeps the brute_force_topk shape: the (tiny) query
    code set broadcasts into the corpus scan — never a sort-merge join
    of the corpus against itself."""
    plan = plan_of(QUERIES["embedding_sq8_topk"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "Broadcast" in plan


def test_rp_rerank_broadcasts_both_stages(spark, sf_dir):
    """stage 1 broadcasts the projected query set; stage 2 broadcasts
    the k-bounded candidate list and the query vectors into the
    vector-fetch scan — no shuffle join anywhere."""
    plan = plan_of(QUERIES["rp_rerank_topk"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "Broadcast" in plan


def test_exact_substring_dedup_single_generate(spark, sf_dir):
    """reassembly is map-side: the only generator in the plan is the
    sliding-gram posexplode — the cleaned text must NOT come from a
    second explode of every corpus token (that shuffle was the op's
    super-linear term)."""
    plan = plan_of(QUERIES["exact_substring_dedup"](spark, sf_dir))
    # Generate-node COUNTS vary with cache state (the persisted gram
    # frame prints its lineage once per un-materialized branch), so
    # detect the bad shape by its columns instead: the token-explode
    # reassembly generated per-token (tpos, tok) rows; the map-side
    # shape never materializes either column.
    assert "tok#" not in plan and "tpos#" not in plan, (
        "reassembly is exploding corpus tokens again"
    )


def test_fk_audit_broadcasts_dimension_probes(spark, sf_dir):
    """fk_integrity_audit: every dimension-parent probe must be a
    broadcast join (a shuffled join against a 5-row nation table would
    be the classic anti-pattern); no fact-side cartesian anywhere."""
    plan = plan_of(QUERIES["fk_integrity_audit"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 5, plan.count("BroadcastHashJoin")


def test_k_anonymity_is_one_quasi_key_shuffle(spark, sf_dir):
    """k_anonymity: one hash aggregate over the quasi-key with a
    map-side partial (no window sort over the customer table), then a
    group-size-bounded rollup."""
    plan = plan_of(QUERIES["k_anonymity"](spark, sf_dir))
    assert "Window" not in plan and "Sort" not in plan.split("AdaptiveSparkPlan")[0]
    assert plan.count("HashAggregate") >= 4  # two aggs x partial+final


def test_ngram_novelty_single_tokenize(spark, sf_dir):
    """ngram_novelty: the corpus is tokenized ONCE — the gram frame is
    a checkpoint, so both consumers (MIN agg + join-back) scan the
    materialized rows; no tokenize/shingle Generate may appear in the
    final plan. (Exchange reuse was measured and rejected: the outer
    doc-base left join breaks the AQE canonical match — see the query
    comment.)"""
    df = QUERIES["ngram_novelty"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "gram frame re-derived - double tokenize"
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_benford_single_orders_scan_pushdown(spark, sf_dir):
    """benford_quality: ONE orders scan (the denominator is a window
    sum over the 9 digit rows, not a second pass), the positivity
    filter pushed to parquet, and no Python stage."""
    plan = plan_of(QUERIES["benford_quality"](spark, sf_dir))
    tree = plan.split("\n\n")[0]  # "formatted" repeats nodes in detail blocks
    assert tree.count("Scan parquet") == 1, tree
    assert "GreaterThan(o_totalprice,0.0)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_acf_lag_single_window_pass_no_explode(spark, sf_dir):
    """acf_lag: the three leads ride ONE window sort and the per-lag
    sufficient statistics are conditional aggregates + a 5-row stack —
    the minute grid must NOT be exploded 3x through a Generate after
    the window (the measured ~1 s regression the agg+stack design
    avoids). The only Generates allowed are the grid's sequence
    explode and the stack itself (both bounded)."""
    plan = plan_of(QUERIES["acf_lag"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1, tree
    assert "CartesianProduct" not in plan


def test_wilson_ranking_broadcasts_supplier_takeordered(spark, sf_dir):
    """wilson_ranking: the supplier dim rides a broadcast join and the
    top-25 is a TakeOrdered, never a global sort of the fact agg."""
    plan = plan_of(QUERIES["wilson_ranking"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_linkpred_no_cartesian_wedges_keyed(spark, sf_dir):
    """linkpred_topk: candidates come from the center-keyed wedge
    join — a vertex cross-join (CartesianProduct / BroadcastNestedLoop
    over the vertex set) must never appear. (The operator executes at
    call time — plan_of sees the checkpointed result, so pin the plan
    at build time via the operator's internals instead: run it and
    assert the persisted-edge discipline released its caches.)"""
    q = QUERIES["linkpred_topk"](spark, sf_dir)
    q.count()  # materialize the k-row frame (0 rows is legal at toy SF)
    jc = spark._jsparkSession.sharedState().cacheManager()
    assert jc.isEmpty(), "linkpred left CacheManager entries behind"


def test_attribution_one_window_one_agg(spark, sf_dir):
    """attribution_last_touch: both ignorenulls lasts ride ONE window
    sort per user partition, followed by one small hash agg — no join
    anywhere (the touch travels with the row)."""
    plan = plan_of(QUERIES["attribution_last_touch"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1, tree
    assert "Join" not in tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_keyword_rake_doc_keyed_no_global_sort(spark, sf_dir):
    """keyword_rake: every shuffle is doc-keyed (phrase cumsum window,
    per-doc rank window, (doc, word) aggs) — there must be no global
    single-partition Exchange and no cartesian."""
    plan = plan_of(QUERIES["keyword_rake"](spark, sf_dir))
    assert "SinglePartition" not in plan, "global shuffle in a per-doc query"
    assert "CartesianProduct" not in plan


def test_transition_matrix_single_window_pass(spark, sf_dir):
    """event_transition_matrix: the lead travels with the row — ONE
    parquet scan, ONE fact-sized window sort (the row-normalizing
    total is a window over the types²-bounded matrix frame, so the
    fact branch is never re-executed), no self-join, no Python
    stage."""
    plan = plan_of(QUERIES["event_transition_matrix"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Window") == 2, tree  # fact lead + bounded rollup
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_readability_map_only(spark, sf_dir):
    """readability_scores is a pure per-row projection: ZERO Exchange
    nodes anywhere in the plan, no Python stage."""
    plan = plan_of(QUERIES["readability_scores"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_theil_sen_pair_join_on_bounded_frame(spark, sf_dir):
    """theil_sen_trend: the pair self-join must join two AGGREGATED
    week frames (HashAggregate below both join children), never the
    raw orders scan against itself — the week pre-agg is the only
    corpus-sized stage."""
    plan = plan_of(QUERIES["theil_sen_trend"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the raw scan feeds exactly two aggregated branches (AQE may
    # reuse the exchange; either way no join of two raw scans)
    assert "SortMergeJoin" in tree or "BroadcastHashJoin" in tree or "BroadcastNestedLoopJoin" in tree


def test_domain_token_lift_source_keyed_topk(spark, sf_dir):
    """domain_token_lift: the rank window is source-partitioned (no
    global SinglePartition sort of the vocab frame) and there is no
    cartesian pair join anywhere."""
    plan = plan_of(QUERIES["domain_token_lift"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    tree = plan.split("\n\n")[0]
    # every SinglePartition exchange must feed a 1-row scalar agg, not
    # the ranked vocab window; the rank window shows partitionBy source
    assert "partitionspec=[source" in tree.lower().replace(" ", "") or "Window" in tree


def test_t_closeness_windows_on_bounded_grid(spark, sf_dir):
    """t_closeness: the QI-group cumsum windows run on the
    groups-by-buckets grid (built from two aggregated frames), and
    the fact table is aggregated exactly once upstream; no Python."""
    plan = plan_of(QUERIES["t_closeness"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree


def test_plan_audit_sort_vs_agg_discrimination(spark, sf_dir):
    """tools/plan_audit.py must count an Exchange SinglePartition
    feeding a Sort (a true global per-row sort) but NOT the
    SinglePartition exchange of an ordinary two-phase scalar
    aggregate — otherwise every single-row report query would be a
    false positive."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(__file__), "..", "tools", "plan_audit.py"),
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    # revenue_gini: one global window over the distinct-value frame
    gini = pa.audit_plan(plan_of(QUERIES["revenue_gini"](spark, sf_dir)))
    assert gini["global_sort"] >= 1
    assert gini["cartesian"] == 0 and gini["python"] == 0
    assert "revenue_gini" in pa.GLOBAL_SORT_OK

    # degree_assortativity: scalar aggs only — its SinglePartition
    # exchanges feed HashAggregates, never a Sort
    assort = pa.audit_plan(plan_of(QUERIES["degree_assortativity"](spark, sf_dir)))
    assert assort["global_sort"] == 0
    assert assort["cartesian"] == 0 and assort["python"] == 0

    # a declared Arrow decode op is counted as python (and allowlisted)
    mm = pa.audit_plan(plan_of(QUERIES["multimodal_meta"](spark, sf_dir)))
    assert mm["python"] >= 1 and "multimodal_meta" in pa.PYTHON_OK

    # shuffle exchanges and join strategies are counted per node; a
    # broadcast shows as its join strategy, not as an exchange
    a, b = spark.range(10), spark.range(10)
    smj = pa.audit_plan(plan_of(a.join(b.hint("merge"), "id")))
    assert smj["SortMergeJoin"] == 1 and smj["exchanges"] == 2
    assert smj["BroadcastHashJoin"] == 0
    bhj = pa.audit_plan(plan_of(a.join(b.hint("broadcast"), "id")))
    assert bhj["BroadcastHashJoin"] == 1 and bhj["exchanges"] == 0
    assert bhj["SortMergeJoin"] == bhj["ShuffledHashJoin"] == 0
    assert smj["tree"] != bhj["tree"]

    # an aggregate moved across a join changes no counter, only the
    # operator-tree signature
    agg = F.count(F.lit(1)).alias("n")
    below = pa.audit_plan(plan_of(a.groupBy("id").agg(agg).join(b.hint("broadcast"), "id")))
    above = pa.audit_plan(plan_of(a.join(b.hint("broadcast"), "id").groupBy("id").agg(agg)))
    below_tree, above_tree = below.pop("tree"), above.pop("tree")
    assert below == above
    assert below_tree != above_tree
    assert sorted(below_tree) == sorted(above_tree)


def test_sql_defined_queries_load_only_the_tables_they_scan(spark, sf_dir, monkeypatch):
    """every register_sql query loads each table its SQL scans exactly
    once and no other table: construction must not regress to
    registering every testdata table per query."""
    import collections
    import re

    from data_engineering_demo_real_time_city_mood_tracker_spark.plans import queries as Q

    real = Q.load_table
    sql_defined = [
        n for n, fn in QUERIES.items() if fn.__qualname__.startswith("register_sql.")
    ]
    assert len(sql_defined) >= 40
    for name in sql_defined:
        loads = collections.Counter()

        def counting(spark, sf_dir, table, loads=loads):
            loads[table] += 1
            return real(spark, sf_dir, table)

        monkeypatch.setattr(Q, "load_table", counting)
        df = QUERIES[name](spark, sf_dir)
        scanned = {re.search(r"/(\w+)\.parquet", f).group(1) for f in df.inputFiles()}
        assert loads == collections.Counter(scanned), name


def test_session_path_single_window_takeordered(spark, sf_dir):
    """session_path_topk: both leads ride ONE user-keyed window sort
    over ONE scan, and the top-20 is a TakeOrdered, never a global
    sort of the trigram frame."""
    plan = plan_of(QUERIES["session_path_topk"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1, tree
    assert tree.count("Scan parquet") == 1, tree
    assert "TakeOrderedAndProject" in tree


def test_mann_whitney_value_frame_window(spark, sf_dir):
    """mann_whitney_u: the customer dim arrives broadcast and the rank
    cumsum runs on the distinct-value frame (below an aggregate), not
    on raw orders; no Python, no cartesian."""
    plan = plan_of(QUERIES["mann_whitney_u"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_changepoint_takeordered_one_scan(spark, sf_dir):
    """changepoint_detection: candidates come from the span-bounded
    week frame (one scan, one pre-agg) and the winner is a 1-row
    TakeOrdered."""
    plan = plan_of(QUERIES["changepoint_detection"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "TakeOrderedAndProject" in tree


def test_fd_discovery_partial_distinct_no_python(spark, sf_dir):
    """fd_discovery: each candidate is an independent single-shuffle
    distinct-count agg — no cartesian, no Python, and the union keeps
    one scan per candidate (6 scans for 6 candidates, 3 tables)."""
    plan = plan_of(QUERIES["fd_discovery"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert tree.count("Scan parquet") == 6, tree


def test_haar_energy_pyramid_single_fact_pass(spark, sf_dir):
    """haar_energy: the dyadic pyramid pays ONE corpus-sized job (the
    checkpointed minute-count agg) — the executed plan's six level
    branches must scan the materialized RDD, never re-scan parquet
    (at most the one scan that feeds the checkpoint), with no dense
    grid Generate and no Python."""
    df = QUERIES["haar_energy"](spark, sf_dir)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") <= 1, tree
    assert "Generate" not in tree, "dense grid explode crept in"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    spark.catalog.clearCache()


def test_degree_distribution_bounded_cumsum(spark, sf_dir):
    """degree_distribution: the survival cumsum runs over the
    distinct-degree frame (below the histogram aggregate), no
    cartesian, no Python."""
    plan = plan_of(QUERIES["degree_distribution"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sq8_recon_error_map_only_encode(spark, sf_dir):
    """sq8_recon_error: the quantizer rides as constant-folded literal
    arrays — the error pass is scan -> project/explode -> one
    dim-keyed agg, with no join and no Python."""
    plan = plan_of(QUERIES["sq8_recon_error"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ks_spearman_value_frame_windows(spark, sf_dir):
    """ks_test / spearman_rho: fact tables feed ONE agg each; the
    cumsums run over distinct-value frames; the rank dictionaries
    join back broadcast; no cartesian, no Python."""
    for name in ("ks_test", "spearman_rho"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
    plan = plan_of(QUERIES["spearman_rho"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_feature_binning_no_global_sort_no_join(spark, sf_dir):
    """feature_binning (r8): NTILE scored map-only against
    ntile_boundary_values literals — the final plan is scan → literal
    comparisons → 10-group agg: no SinglePartition exchange, no
    window, no join (the r7 scale wart is gone)."""
    plan = plan_of(QUERIES["feature_binning"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "SinglePartition" not in plan, "global shuffle crept back"
    assert tree.count("Window") == 0, tree
    assert "Join" not in tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rfm_segmentation_no_global_sort_no_join(spark, sf_dir):
    """rfm_segmentation (r8): all three quartile scores are literal
    comparisons over the one-shuffle customer agg — no SinglePartition
    exchange, no window, no join; CacheManager stays empty (the
    boundary build leaves nothing persisted)."""
    plan = plan_of(QUERIES["rfm_segmentation"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "SinglePartition" not in plan, "global shuffle crept back"
    assert tree.count("Window") == 0, tree
    assert "Join" not in tree
    jc = spark._jsparkSession.sharedState().cacheManager()
    assert jc.isEmpty(), "rfm boundary build left CacheManager entries"
