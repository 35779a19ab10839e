"""Physical-plan shape assertions: the 100 TB posture claims
(README "Design stance") as regression tests.

Each test renders the formatted explain of a catalog query and asserts
the plan property that matters at scale: predicate pushdown into the
parquet scan, column pruning in ReadSchema, broadcast joins for
dimensions only, partial (map-side) aggregation, and no cartesian
products in candidate generation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from anti_money_laundering_spark.linkage import candidate_pairs
from anti_money_laundering_spark.plans.catalog import get_catalog
from anti_money_laundering_spark.sources import load_table

CATALOG = get_catalog()


def explain_str(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = explain_str(CATALOG["filter_project_null"].fn(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # all three predicates push: status equality, price range, date not-null
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "o_orderstatus" in pushed and "o_totalprice" in pushed and "o_orderdate" in pushed


def test_column_pruning_in_read_schema(spark, sf_dir):
    plan = explain_str(CATALOG["filter_project_null"].fn(spark, sf_dir))
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # projection is 3 cols + 2 filter-only cols; the wide rest stays unread
    assert "o_comment" not in schema and "o_orderpriority" not in schema


def test_dimension_joins_broadcast_fact_joins_shuffle(spark, sf_dir):
    # dims (nation/region, explicit hints) broadcast at any threshold
    plan = explain_str(CATALOG["multiway_join_revenue"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    # with size-based broadcast off, the fact joins degrade to shuffle
    # joins — the plan never *depends* on a fact side fitting in memory
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_nb = explain_str(CATALOG["multiway_join_revenue"].fn(spark, sf_dir))
        assert "SortMergeJoin" in plan_nb or "ShuffledHashJoin" in plan_nb
        # explicit dim hints still honored
        assert plan_nb.count("BroadcastHashJoin") >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))


def test_partial_aggregation_map_side(spark, sf_dir):
    plan = explain_str(CATALOG["pricing_summary"].fn(spark, sf_dir))
    # Catalyst splits the agg into partial + final HashAggregate
    assert plan.count("HashAggregate") >= 2


def test_semi_join_stays_semi(spark, sf_dir):
    plan = explain_str(CATALOG["semi_join_subquery"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_topk_uses_take_ordered_not_full_sort(spark, sf_dir):
    plan = explain_str(CATALOG["order_limit_top10"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_blocked_linkage_has_no_cartesian(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    pairs = candidate_pairs(
        cust, "c_custkey", [["c_nationkey", "c_mktsegment"]], compare_cols=["c_name"]
    )
    plan = explain_str(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_candidates_join_on_derived_key(spark, sf_dir):
    plan = explain_str(CATALOG["ann_lsh_topk"].fn(spark, sf_dir))
    # candidate generation is an equi-join on (tbl, bucket) — never a
    # cross join over the corpus
    assert "CartesianProduct" not in plan


def test_corpus_clean_pipeline_plan_shape(spark, sf_dir):
    # end-to-end cleaning: candidate generation stays equi-join (no
    # cartesian), the near-dup drop is a LEFT ANTI join on doc_id, and
    # no Python UDF leaks in (every stage is a codegen'd expression)
    plan = explain_str(CATALOG["corpus_clean_pipeline"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "EvalPython" not in plan


def test_text_exprs_stay_jvm_side(spark, sf_dir):
    # higher-order lambdas (aggregate/transform) evaluate interpreted
    # JVM-side — outside whole-stage codegen but never in Python
    plan = explain_str(CATALOG["text_quality_scores"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the scan->project spine is still codegen'd ('*' markers)
    assert "* ColumnarToRow" in plan


def test_no_python_udf_in_relational_paths(spark, sf_dir):
    for name in ("shared_attr_match", "pricing_summary", "sessionize_events",
                 "window_topk_per_group", "multiway_join_revenue"):
        plan = explain_str(CATALOG[name].fn(spark, sf_dir))
        assert "EvalPython" not in plan, f"Python UDF leaked into {name}"


def test_events_range_filter_prunes_row_groups(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "value")
    plan = explain_str(ev)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pushed


def test_graph_algorithms_no_cartesian(spark, sf_dir):
    """Triangle enumeration and LPA candidate generation are pure
    equi-joins on vertex keys — never a cartesian/nested-loop."""
    for name in ("graph_triangle_count", "graph_label_propagation"):
        plan = explain_str(CATALOG[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_aggregate_messages_edge_only_skips_vertex_joins(spark, sf_dir):
    """graph_net_flow sends only edge.amount — neither vertex-attribute
    join may appear: the whole round is one aggregation keyed on
    vertex id (flow_graph edges are scan+project, so the plan must
    contain no join operator at all)."""
    plan = explain_str(CATALOG["graph_net_flow"].fn(spark, sf_dir))
    assert "Join" not in plan


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    plan = explain_str(CATALOG["exists_correlated_suppliers"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_stream_static_join_broadcasts_dim(spark, sf_dir):
    """The static customer dim is small by construction at fixture SF —
    the enrichment join must be a broadcast hash join (on a stream this
    repeats per micro-batch with no state store)."""
    plan = explain_str(CATALOG["stream_static_enrich"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_tfidf_exact_pairs_no_cartesian(spark, sf_dir):
    """The vocabulary-explicit TF-IDF path joins pair x token only for
    LSH-bounded candidates and joins the idf table BY KEY — no
    cartesian, no nested-loop, no Python UDF."""
    plan = explain_str(CATALOG["tfidf_exact_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_lsh_broadcast_path_single_pass(spark, sf_dir):
    # broadcast-probe-map fast path: ONE mapInPandas pass over the
    # corpus scores candidates; no per-pair vector-fetch joins — the
    # only shuffles are the final window rank (+ the fixture loader's
    # parallelism widening)
    plan = explain_str(CATALOG["ann_lsh_topk"].fn(spark, sf_dir))
    assert "MapInPandas" in plan
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_merge_into_full_outer_no_cartesian(spark, sf_dir):
    # MERGE is one full-outer equi-join on the keys; the unique-source
    # guard is a window over the SAME keys, never a cartesian/BNLJ
    plan = explain_str(CATALOG["merge_upsert_orders"].fn(spark, sf_dir))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_pack_sequences_one_shard_shuffle(spark, sf_dir):
    # packing = one hash-shard shuffle feeding the cumulative-sum
    # window (+ the loader's parallelism widening); no joins, no Python
    plan = explain_str(CATALOG["pack_sequences_docs"].fn(spark, sf_dir))
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan and "EvalPython" not in plan


def test_stratified_sample_is_pure_filter(spark, sf_dir):
    # per-stratum sampling is codegen'd md5 CASE arithmetic: zero
    # shuffles, zero Python — the scan's pushdown/pruning is untouched
    plan = explain_str(CATALOG["stratified_sample_events"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_feature_queries_no_cartesian_no_udf(spark, sf_dir):
    # The feature-engineering surface stays declarative: equi-keyed
    # joins only (the co-occurrence `<` is a residual on a keyed join,
    # not a cartesian) and zero Python UDFs anywhere in the family.
    for name in (
        "event_cooccurrence",
        "bm25_doc_scores",
        "scd2_user_status",
        "resample_daily_gapfill",
        "zscore_outlier_orders",
        "graph_neighbor_jaccard",
    ):
        plan = explain_str(CATALOG[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_bm25_stats_and_df_broadcast(spark, sf_dir):
    # Corpus stats (1 row) and per-term document frequencies (k rows)
    # must broadcast onto the postings — the only big shuffle at scale
    # is the postings aggregation itself. (r14 negative result: a
    # zero-shuffle per-doc array-expression rewrite measured 30% SLOWER
    # at sf0.1 — exchange reuse already dedups the dl/tf subtrees; see
    # OPTIMIZATION_r14.md §negative-results.)
    plan = explain_str(CATALOG["bm25_doc_scores"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats cross join


def test_profile_per_column_pruned_branches(spark, sf_dir):
    # r14 shape (operators.profile_table, the measured 6.4x win over
    # the single-aggregate Expand plan): one two-level
    # aggregation branch per profiled column, each over its own
    # SINGLE-COLUMN pruned scan, unioned to rows — no Expand row
    # multiplication, no driver collect. The scan count equals the
    # profiled column count and every ReadSchema carries exactly one
    # field (pruning reached parquet per branch).
    from anti_money_laundering_spark.plans.feature_queries import _PROFILE_COLS

    plan = explain_str(CATALOG["profile_orders"].fn(spark, sf_dir))
    import re

    scan_nodes = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scan_nodes) == len(_PROFILE_COLS), scan_nodes
    assert "Expand" not in plan
    assert "Union" in plan
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas and all(s.count(":") == 1 for s in read_schemas), read_schemas


def test_doc_keywords_broadcasts_idf(spark, sf_dir):
    # vocabulary-sized idf + 1-row corpus count broadcast onto the
    # token-count shuffle; no cartesian, no Python
    plan = explain_str(CATALOG["doc_keywords"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_decimal_totals_partial_aggregation(spark, sf_dir):
    # decimal sums still get map-side partial aggregation (two
    # HashAggregate phases around one shuffle)
    plan = explain_str(CATALOG["decimal_money_totals"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_join_strategy_hints_honored(spark, sf_dir):
    """The engine's join surface accepts per-join strategy hints — the
    escape hatch when statistics mislead the optimizer at scale:
    SHUFFLE_HASH avoids the sort of a sort-merge join for huge
    uniform-key joins; MERGE forces sort-merge when a hash table would
    not fit."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sh = li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in explain_str(sh)
    sm = li.join(o.hint("MERGE"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in explain_str(sm)


def test_decontam_benchmark_side_broadcasts(spark, sf_dir):
    """Decontamination joins the corpus posting list against the
    benchmark's distinct n-gram set — the benchmark side must
    broadcast (eval suites are tiny vs a crawl) and the corpus side
    must not shuffle its text anywhere: the only exchange is the final
    (doc_id, count) aggregation."""
    plan = explain_str(CATALOG["decontam_ngram_overlap"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan  # NGram is JVM-side, no Python UDF


def test_rebalance_no_window_no_data_shuffle(spark, sf_dir):
    """Mix rebalancing must be per-source counts broadcast back + a
    codegen'd filter: no window function over the corpus (the ONE
    allowed Window is the r14 unpartitioned min-fold over the
    |sources|-row counts frame — it sits INSIDE the broadcast branch,
    above the counts aggregate, never over document rows), no
    sort-merge join of the data against its own counts, and the
    corpus scanned exactly twice (main branch + counts branch; the
    pre-r14 shape re-ran the counts subtree a third time for the
    separate global-min broadcast)."""
    plan = explain_str(CATALOG["rebalance_uniform_mix"].fn(spark, sf_dir))
    assert plan.count("Window") <= 2  # one Window node + its detail entry
    # the Window must consume the counts AGGREGATE, not corpus rows:
    # in the formatted plan the node above the window's child is a
    # HashAggregate — assert no Sort over doc_id feeds a Window
    assert "Sort" not in plan.split("Window")[0]
    assert plan.count("BroadcastHashJoin") >= 1  # counts joined by broadcast
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 4  # 2 scans x (tree + detail) entries
    assert "BatchEvalPython" not in plan


def test_repetition_scores_jvm_only_partial_agg(spark, sf_dir):
    """Repetition signals must stay JVM-side (no interpreted
    O(unique×len) higher-order lambda over tokens, no Python UDF) and
    the token-mode agg must be partial+final HashAggregate."""
    plan = explain_str(CATALOG["repetition_scores_docs"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "HashAggregate" in plan
    # the tempting one-liner computes the mode via aggregate()/filter()
    # lambdas per row — interpreted; the plan must not contain them
    assert "aggregate(" not in plan.lower().replace("hashaggregate(", "").replace(
        "objecthashaggregate(", ""
    ).replace("sortaggregate(", "")


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Catalyst's runtime row-level filtering — the engine's 100 TB
    answer for selective dim⋈fact joins — injects a bloom filter built
    from the (filtered) orders keys into the lineitem scan side, so
    fact rows that cannot match die BEFORE the join shuffle. The
    application-side threshold defaults to 10 GB of scanned bytes
    (sized for clusters, not fixtures), so the test lowers it to prove
    the mechanism engages and that the bloom is semantics-free: false
    positives only ever pass EXTRA rows into the exact join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    conf = spark.conf
    app_thresh = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    saved_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_app = conf.get(app_thresh)
    baseline = j.count()
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set(app_thresh, "0")
    try:
        plan = explain_str(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan
        assert j.count() == baseline  # bloom never changes the result
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved_bc)
        conf.set(app_thresh, saved_app)
