"""Physical-plan regression tests.

Correctness tests prove the small-scale answers; these prove the SHAPE that
survives 100 TB: filters reach the parquet scan, scans read only needed
columns, dimension joins broadcast, aggregates combine map-side, and the
candidate-generation joins of the approximate operators are hash equi-joins
(never nested-loop/cartesian). A refactor that silently regresses one of
these still passes the value checks — this file is what catches it.
"""

from __future__ import annotations

import pytest

from data_ingestion_spark.queries import merged_queries

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    fn, _ = merged_queries()[name]
    df = fn(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    # at least one real predicate pushed, not only IsNotNull
    pushed = [
        line for line in plan.splitlines() if line.startswith("PushedFilters")
    ]
    assert any(
        ("GreaterThan" in line) or ("LessThan" in line) or ("EqualTo" in line)
        for line in pushed
    ), pushed


def test_column_pruning_narrow_read_schema(spark):
    plan = plan_of(spark, "agg_pricing_summary")
    # lineitem has 16 columns; the pricing summary needs 7 — the scan schema
    # must not contain ones the query never touches
    assert "l_comment" not in plan and "l_shipmode" not in plan


def test_dimension_joins_broadcast(spark):
    for name in ["join_revenue_by_segment", "join_multi_region"]:
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_semi_anti_joins_are_hash_joins(spark):
    for name, jt in [
        ("semi_join_active_customers", "LeftSemi"),
        ("anti_join_inactive_customers", "LeftAnti"),
    ]:
        plan = plan_of(spark, name)
        assert jt in plan, name
        assert "CartesianProduct" not in plan, name


def test_aggregate_is_partial_then_final(spark):
    plan = plan_of(spark, "agg_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_minhash_candidates_hash_equijoin(spark):
    plan = plan_of(spark, "dedup_minhash_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # band-key equality must be a join key, not a post-join filter
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_jaccard_block_join_not_cartesian(spark):
    plan = plan_of(spark, "dedup_jaccard_pairs_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_probe_is_equijoin(spark):
    plan = plan_of(spark, "knn_ivf_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_python_udfs_in_relational_queries(spark):
    # every relational/text/dedup query must stay JVM-side; Python may
    # appear only in the genuinely non-native paths (excel, multimodal)
    for name in [
        "agg_pricing_summary",
        "join_revenue_by_segment",
        "dedup_simhash_docs",
        "text_quality_docs",
        "lang_id_docs",
        "token_count_docs",
        "fingerprint_docs",
        "dedup_minhash_docs",
        "funnel_conversion_events",
        "retention_cohorts_events",
        "variant_props_events",
        "setop_multiset_priorities",
        "map_functions_events",
        "regression_stats_lineitem",
    ]:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_exact_dedup_shuffles_fingerprint_not_content(spark):
    plan = plan_of(spark, "dedup_exact_docs")
    # the pre-shuffle partial aggregate must key on the md5 fingerprint;
    # document text must not survive past the scan/project
    assert "partial_" in plan
    exchanges = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert exchanges and all("text" not in ln for ln in exchanges), exchanges


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key pre-partitions data at write
    time — the join then needs NO Exchange on either side. This is the
    co-located-join strategy for repeated 100 TB fact-dim joins."""
    from data_ingestion_spark.session import load_table

    # warehouse.dir is a static conf on a shared session; managed tables
    # land in the default warehouse and are dropped (with files) in finally
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, SF_DIR, "orders")
        cust = load_table(spark, SF_DIR, "customer")
        (
            orders.write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable("b_orders")
        )
        (
            cust.withColumnRenamed("c_custkey", "o_custkey")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable("b_cust")
        )
        joined = spark.table("b_orders").join(spark.table("b_cust"), "o_custkey")
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = joined._jdf.queryExecution().explainString(mode)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # co-located: zero shuffles
        n = joined.count()
        assert n == spark.table("b_orders").count()  # every order has a customer
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_temporal_joins_avoid_nested_loop(spark):
    for name in ["asof_join_events_orders", "range_join_event_pairs"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_tpch2_dims_broadcast_no_cartesian(spark):
    """Every Q3/Q5/Q8/Q9/Q10/Q15/Q20 plan must broadcast its dimension
    side(s) and never degrade to a nested-loop/cartesian join; the only
    sort-merge joins allowed are the fact-fact equi-joins."""
    for name in [
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q10_returned_items",
        "tpch_q15_top_supplier",
        "tpch_q20_excess_volume",
    ]:
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_tpch2_topk_is_take_ordered(spark):
    """Q3/Q10's LIMIT must compile to TakeOrderedAndProject (per-partition
    heap + driver merge), not a global Sort followed by Limit."""
    for name in ["tpch_q3_shipping_priority", "tpch_q10_returned_items"]:
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_embedding_pairs_is_bucketed_not_nested_loop(spark):
    """Round 1 gated the brute-force all-pairs join here
    (BroadcastNestedLoopJoin); the gated plan is now the hyperplane-LSH
    band equi-join + exact verify and must never regress."""
    plan = plan_of(spark, "dedup_embedding_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_lsh_band_exchange_carries_no_vector(spark):
    """The hyperplane-LSH band explode must shuffle (id, band-key) only —
    hauling the embedding through the explode multiplies shuffle bytes by
    n_bands x dim. Any Exchange partitioned on the band key must not list
    the vector column in its input."""
    plan = plan_of(spark, "knn_lsh_pairs")
    nodes = plan.split("\n\n")
    # the exploded side may be shuffled (hashpartitioning(bk...)) or
    # broadcast (tiny SF) — either way the Exchange moving band keys must
    # not also move the vector column
    band_exchanges = [
        n for n in nodes if "Exchange" in n and "bk#" in n
    ]
    assert band_exchanges, "expected an Exchange carrying the band key"
    for node in band_exchanges:
        assert "embedding" not in node and "v#" not in node, node


def test_covariance_is_gram_mapinpandas_not_explode(spark):
    """covariance_embeddings must use the per-partition Gram accumulation
    (one MapInPandas pass, shuffle invariant to row count), never the
    retired product-explode plan (a Generate of d(d+1)/2 cells per row).
    r14: the Gram pass runs ONCE behind an eager localCheckpoint of the
    d(d+1)/2+d+1-row reduction (before, per-branch column pruning
    replicated the corpus-scale Arrow scan into all four consumer
    subtrees), so the final plan shows the checkpoint scan, not the
    MapInPandas node — pinned both ways below."""
    plan = plan_of(spark, "covariance_embeddings")
    assert "posexplode" not in plan
    assert "MapInPandas" not in plan  # the Gram pass must NOT re-run per branch
    assert "localCheckpoint" in plan  # ...it is the checkpointed reduction
    # the Gram pass itself is still MapInPandas (guards against a future
    # re-explode inside covariance_matrix, which the checkpoint would hide)
    import inspect

    from data_ingestion_spark.operators import similarity

    src = inspect.getsource(similarity.covariance_matrix)
    assert "mapInPandas" in src and "posexplode" not in src


def test_extension_ops_no_nested_loop_no_python(spark):
    """No extension operator may plan a nested-loop/cartesian join, and no
    Python stage may appear outside the two sanctioned non-native readers
    (excel, xml) and the multimodal decode path."""
    for name in [
        "dedup_exact_docs",
        "dedup_jaccard_pairs_docs",
        "dedup_minhash_docs",
        "dedup_simhash_docs",
        "dedup_embedding_pairs",
        "knn_lsh_pairs",
        "knn_ivf_exact_topk",
        "knn_ivf_topk",
        "winnow_fingerprint_docs",
        "sample_docs_hash",
        "cap_per_source_docs",
        "normalize_text_docs",
        "mix_corpus_docs",
        "embedding_centroids_by_label",
        "skew_salted_agg_events",
        "asof_join_events_orders",
        "range_join_event_pairs",
        "chunk_docs",
        "pii_scrub_docs",
        "decontaminate_docs",
        "tfidf_docs",
        "repetition_stats_docs",
        "quality_filter_docs",
        "ngram_topk_corpus",
        "corpus_stats_by_lang",
        "pack_sequences_docs",
        "dup_ngram_fraction_docs",
        "inverted_index_terms",
        "split_docs_hash",
        "quantize_embeddings",
        "pagerank_supplier_graph",
        "gapfill_events_locf",
        "zipf_slope_corpus",
        "fuzzy_match_parts",
        "dq_checks_star_schema",
        "skew_salted_join_events",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


def test_knn_cosine_broadcast_only_queries(spark):
    """Brute-force kNN must broadcast the (tiny) query side; the corpus
    never shuffles for the scoring pass."""
    plan = plan_of(spark, "knn_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the nested-loop here is corpus × broadcast(5 queries) — bounded by the
    # broadcast side; a CartesianProduct (both sides shuffled) is the bug
    assert "CartesianProduct" not in plan


def test_approx_percentile_no_full_sort(spark):
    """The sketch-tier percentile must aggregate (partial+final summaries),
    never plan a per-group global Sort the way exact percentile does."""
    plan = plan_of(spark, "percentile_approx_lineitem")
    assert "partial_percentile_approx" in plan


def test_tpch3_dims_broadcast_no_cartesian(spark):
    for name in [
        "tpch_q2_min_cost_supplier",
        "tpch_q11_important_stock",
        "tpch_q16_parts_supplier",
        "tpch_q21_waiting_supplier",
    ]:
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_q6_pushdown_and_single_agg(spark):
    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    pushed = [
        line for line in plan.splitlines() if line.startswith("PushedFilters")
    ]
    assert any("GreaterThan" in ln or "LessThan" in ln for ln in pushed), pushed
    assert "partial_sum" in plan


def test_ngram_topk_is_take_ordered(spark):
    """Corpus top-k n-grams must cut per-partition (TakeOrdered), never
    plan a global Sort of the full n-gram frequency table."""
    plan = plan_of(spark, "ngram_topk_corpus")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_quality_filter_is_single_narrow_pass(spark):
    """Every quality gate fuses into the scan stage: the operator itself
    (without the registry query's presentation sort) plans zero shuffles."""
    from data_ingestion_spark.operators import text
    from data_ingestion_spark.session import load_table

    df = text.quality_flags(load_table(spark, SF_DIR, "documents"), "doc_id", "text")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "Exchange" not in plan


def test_partitioned_write_prunes_and_dynamic_overwrite(spark, tmp_path):
    """Partition layout end-to-end: (1) a predicate on the partition column
    compiles to partition pruning (no data files of other partitions are
    read); (2) dynamic overwrite replaces only the partitions present in
    the incoming batch."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.session import load_table
    from data_ingestion_spark.sinks.parquet_sink import write_partitioned

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, ["lang"], sort_within=["doc_id"])
    back = spark.read.parquet(out)
    langs = [r["lang"] for r in back.select("lang").distinct().collect()]
    assert len(langs) >= 2
    pruned = back.filter(F.col("lang") == langs[0])
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = pruned._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1].split("]")[0]
    n_before = back.filter(F.col("lang") == langs[1]).count()

    # dynamic overwrite: rewrite ONLY langs[0]'s partition with 1 row
    one = docs.filter(F.col("lang") == langs[0]).limit(1)
    write_partitioned(one, out, ["lang"])
    back2 = spark.read.parquet(out)
    assert back2.filter(F.col("lang") == langs[0]).count() == 1
    assert back2.filter(F.col("lang") == langs[1]).count() == n_before  # untouched


def test_ivf_partitioned_index_prunes_probed_lists(spark, tmp_path):
    """The IVF scale story end-to-end: materialize the corpus partitioned
    BY list_id (ivf_assign at ingest), then a probe touching 2 of the lists
    must compile to partition pruning — unprobed lists are never read."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import similarity
    from data_ingestion_spark.session import load_table
    from data_ingestion_spark.sinks.parquet_sink import write_partitioned

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids_from_sample(emb, n_lists=4)
    indexed = similarity.ivf_assign(emb, cents, vec_col="embedding", n_probe=1)
    out = str(tmp_path / "ivf_index")
    write_partitioned(indexed, out, ["list_id"])

    probed = spark.read.parquet(out).filter(F.col("list_id").isin(0, 2))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = probed._jdf.queryExecution().explainString(mode)
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "list_id" in pf
    # and the probe actually returns a strict subset of the corpus
    assert 0 < probed.count() < emb.count()


def test_global_sort_is_range_partitioned(spark):
    """A full global sort must compile to a range-partitioned Exchange
    (sampled split points, every partition a contiguous key range — the
    terasort shape), never a single-partition sort."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.session import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    df = li.orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "rangepartitioning" in plan.lower(), plan[:600]
    assert "SinglePartition" not in plan


def test_paragraph_dedup_winner_agg_carries_no_text(spark):
    """paragraph_dedup's winner aggregation must shuffle (hash, id, pos)
    only — paragraph TEXT may cross the wire exactly once, in the
    paras-to-winners join, never through the min-agg exchange (a
    billion-copy boilerplate paragraph must partial-aggregate map-side to
    one struct per partition)."""
    plan = plan_of(spark, "paragraph_dedup_docs")
    nodes = plan.split("\n\n")
    agg_exchanges = [
        n
        for n in nodes
        if "Exchange hashpartitioning(h#" in n and "HashAggregate" not in n
    ]
    # find the exchange feeding the winner HashAggregate: partitioned on the
    # md5 hash, input must be the partial min(struct) — no para column
    partial_min = [n for n in nodes if "partial_min" in n]
    assert partial_min, "winner agg must combine map-side (partial_min)"
    for node in partial_min:
        assert "para#" not in node.split("Input")[-1], node


def test_scd2_history_passthrough_no_join(spark):
    """SCD2's history branch (is_current = false) must be a filter+union
    passthrough — only the current slice may enter the merge join. The
    full-outer join on the key must appear exactly once in the plan."""
    plan = plan_of(spark, "scd2_customers")
    assert plan.count("Join type: FullOuter") == 1
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_snapshot_diff_single_join_fingerprint_compare(spark):
    """snapshot_diff is ONE full-outer hash join; the change classification
    compares two md5 fingerprints, not N attribute columns, so the join
    condition stays a pure key equality."""
    plan = plan_of(spark, "snapshot_diff_customers")
    assert plan.count("Join type: FullOuter") == 1
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_url_dedup_is_codegen_narrow_plus_one_agg(spark):
    """The canonicalizer must stay a pure codegen expression chain — no
    Python stages, no join, exactly the dedup agg's exchange plus the
    bounded orderBy's."""
    plan = plan_of(spark, "url_dedup_docs")
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Join"):
        assert bad not in plan, bad
    assert "HashAggregate" in plan


def test_dsir_stats_table_broadcasts(spark):
    """The 256-row bucket stats table must broadcast back to the per-doc
    counts (never a shuffle join against n_buckets rows), and the top-100
    cut must be TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, "dsir_importance_docs")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_nb_confusion_no_python_no_cartesian(spark):
    """NB model build + scoring is all JVM hash joins/aggs; the only
    crossJoins are single-row totals (BroadcastNestedLoopJoin over 1 row
    is fine — a CartesianProduct is not)."""
    plan = plan_of(spark, "nb_lang_confusion_docs")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_weighted_sample_topk_not_global_sort(spark):
    """The E-S cut must be TakeOrderedAndProject (per-partition heaps),
    never a global Sort, and the key map must stay JVM-side."""
    plan = plan_of(spark, "weighted_sample_docs")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Round-7 operators
# ---------------------------------------------------------------------------
def test_theta_intersection_single_user_agg_and_takeordered(spark):
    """One user-keyed aggregation feeds everything; the bottom-k sketches
    compile to TakeOrderedAndProject (never a full sort of the user
    table)."""
    plan = plan_of(spark, "theta_intersection_events")
    assert "TakeOrderedAndProject" in plan
    # the user table is checkpointed after ONE user-keyed agg; consumers
    # must read it, not re-aggregate raw events per sketch
    assert plan.count("Scan parquet") <= 2  # events scan + (<=1) reuse


def test_pmi_bigram_joins_are_hash_joins(spark):
    plan = plan_of(spark, "pmi_bigrams_corpus")
    assert "CartesianProduct" not in plan
    # the unigram-count joins must be hash equi-joins; the only permitted
    # nested-loop is the 1-row total-tokens scalar crossJoin
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # formatted plans can repeat the scalar subplan; just bound it
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "partial_count" in plan  # explode counts combine map-side
    # tokenized corpus is checkpointed once — consumers read the RDD, not
    # three fresh parquet scans of documents
    assert plan.count("Scan parquet") <= 1


def test_robust_scale_fence_join_broadcasts(spark):
    """The |groups|-row fence table must broadcast back onto events."""
    plan = plan_of(spark, "robust_scale_events")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ks_critical_grid_not_cartesian_on_corpus(spark):
    """The ECDF grid's nested-loop joins operate on AGGREGATED metadata
    (|groups| x |distinct values|), never on the raw corpus: every
    documents scan must sit below a grouped aggregate, so the cross joins
    combine count tables, not document rows."""
    plan = plan_of(spark, "ks_critical_drift_docs")
    assert "CartesianProduct" not in plan
    # corpus touched only via the (source, n_chars) count agg + the total
    # count — both aggregate immediately above their scan
    assert "partial_count" in plan


def test_lsh_pairs_no_dedup_exchange(spark):
    """The first-agreeing-band filter replaced dropDuplicates: no
    HashAggregate keyed on (id_a, id_b) between the band join and the
    verify joins (the near-quadratic exchange the round-7 rewrite
    removed)."""
    plan = plan_of(spark, "knn_lsh_pairs")
    assert "CartesianProduct" not in plan
    # dropDuplicates compiles to partial/final HashAggregate over the pair
    # keys; its removal means no aggregate with both pair ids as keys
    import re

    assert not re.search(r"HashAggregate.*keys=\[id_a[^\]]*id_b", plan)


def test_nightly_pipeline_band_join_hash(spark):
    plan = plan_of(spark, "dedup_nightly_pipeline_docs")
    assert "CartesianProduct" not in plan
    # candidate/verify joins must be hash equi-joins; nested-loops appear
    # only for the 1-row audit-constant crossJoins (the formatted plan
    # repeats those scalar subplans, so their count is not asserted)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_bucketed_join_has_zero_exchange(spark, tmp_path):
    """Co-bucketed SMJ must move no data: the bucketed scan feeds the join
    directly (Bucketed: true, all buckets selected), with zero Exchange
    anywhere in the join plan — the write-time shuffle IS the join
    shuffle. Local per-bucket Sorts are expected (Spark ≥3.0 ignores
    bucket sort metadata by default)."""
    import re
    import tempfile

    from data_ingestion_spark.operators import layout
    from data_ingestion_spark.session import load_table

    ords = load_table(spark, SF_DIR, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    # r12: pytest-managed dir, not a raw mkdtemp — the old form leaked
    # one /tmp dir per run (224 of them found at the r12 sweep)
    path = str(tmp_path / "bkt_plan")
    layout.write_bucketed(ords.repartition(8, "custkey"), "tp_bo", "custkey", 8, path)
    layout.write_bucketed(cust.repartition(8, "custkey"), "tp_bc", "custkey", 8, path)
    j = layout.bucketed_join(spark, "tp_bo", "tp_bc", "custkey")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 0, plan
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    # and the answer is still the join
    assert j.count() == ords.join(cust, "custkey").count()


def test_round7_additions_plan_shapes(spark):
    """The late round-7 operators keep the shapes their docstrings claim:
    no cartesian/nested-loop candidate joins, no Python stages, and the
    distributed-top-k path where promised."""
    for name in [
        "funnel_windowed_events",
        "join_size_sample_orders_customer",
        "classifier_report_docs",
        "pareto_quality_docs",
        "key_skew_profile_events",
        "source_overlap_matrix_docs",
        "event_volume_trend_events",
        "dedup_keep_best_docs",
        "dedup_clusters_twostar_docs",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        if name not in (
            "join_size_sample_orders_customer",
            "key_skew_profile_events",
        ):
            # (those two combine SINGLE-ROW aggregates — estimate+exact,
            # totals+top10 — with a deliberate 1x1 crossJoin; a nested-
            # loop join of two scalar rows is free at any scale)
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    # skew profile's top-10 is per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in plan_of(spark, "key_skew_profile_events")


def test_dpp_prunes_fact_partitions_at_runtime(spark):
    """The fact scan must carry a dynamicpruning# PartitionFilter — the
    dimension's category filter lives on a non-join column of a separate
    materialized scan, so only runtime DPP (not static constraint
    propagation) can prune the partitioned fact table."""
    plan = plan_of(spark, "dpp_prune_join_events")
    scan_lines = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    assert scan_lines, plan
    # and the filter is NOT a statically-folded IN list on the fact side
    assert not any("IN (purchase,signup)" in ln for ln in scan_lines)


def test_nightly_index_commit_is_exchange_free_on_index_side(
    spark, tmp_path
):
    """The nightly-dedup production shape (dedup_nightly_pipeline_docs):
    a band index committed via tableformat.commit_version_bucketed and
    re-read through read_version keeps its bucketed hashpartitioning, so
    the nightly candidate equi-join on the bucket key needs NO Exchange
    on the (corpus-sized) index side — exactly one Exchange total, the
    night's batch. Broadcast is disabled so a small test batch can't
    hide the property (at 100 TB the batch side can exceed broadcast
    size, which is when bucketing is the only thing standing between
    the join and a nightly full-index shuffle)."""
    import re
    import tempfile

    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import tableformat

    bkey = F.concat_ws(
        ":", (F.col("id") % 7).cast("string"), (F.col("id") % 13).cast("string")
    )
    idx = spark.range(2000).select(F.col("id"), bkey.alias("bkey"))
    batch = spark.range(200).select((F.col("id") + 10_000).alias("id"), bkey.alias("bkey"))
    root = str(tmp_path / "nidx_plan")  # pytest-managed (r12 leak fix)
    v = tableformat.commit_version_bucketed(idx, root, "bkey", 8)
    stored = tableformat.read_version(spark, root, v)
    assert stored.count() == 2000  # manifest round-trip, catalog-resolved
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = stored.alias("a").join(
            batch.alias("b"), F.col("a.bkey") == F.col("b.bkey")
        ).select(F.col("a.id").alias("corpus_id"), F.col("b.id").alias("batch_id"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert plan.count("Bucketed: true") == 1, plan
        # exactly ONE Exchange: the batch side shuffling to meet the
        # index's write-time partitioning — the index side reads in place
        assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_skew_autogate_takes_salted_branch_on_hot_key(spark):
    """skew_autogate_join_events joins on event_type (~5 values, top key
    ~20% of rows) — the profile must trip the 10% gate and the SALTED
    plan must run: build side exploded over the 8 salt values, join key
    widened with _salt. The salted flag column is value-checked by the
    oracle; this pins the PHYSICAL shape."""
    plan = plan_of(spark, "skew_autogate_join_events")
    assert "_salt" in plan, plan
    # Catalyst constant-folds sequence(0, 7) into the literal array
    assert "explode([0,1,2,3,4,5,6,7])" in plan, plan


def test_ivf_stored_probe_prunes_buckets(spark):
    """knn_ivf_stored_probe (r9): the probe side must scan ONLY the probed
    lists of the STORED bucketed index — the IN filter on the bucket
    column prunes whole buckets (SelectedBucketsCount < total), which at
    100 TB is the difference between |probed lists| and |corpus| probe
    cost. 2 queries x 2 probes cover 3 of the 4 lists at this fixture."""
    plan = plan_of(spark, "knn_ivf_stored_probe")
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) < int(m.group(2)), m.group(0)
    # and the probed-list filter actually reached the stored-table scan
    assert "vtab_lists_" in plan, "probe must read the committed snapshot"


def test_pq_ivf_stored_probe_prunes_buckets(spark):
    """pq_ivf_stored_probe (r9): the ADC probe must scan only the probed
    lists' buckets of the COMMITTED code table — same contract as
    knn_ivf_stored_probe, now for the IVF-PQ composition."""
    plan = plan_of(spark, "pq_ivf_stored_probe")
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) < int(m.group(2)), m.group(0)
    assert "vtab_codes_" in plan, "probe must read the committed code table"


def test_round9_batch2_plan_shapes(spark):
    """The round-9 batch-2 operators keep their docstring shapes: no
    Python stages anywhere, no corpus-side cartesian joins (the scalar/
    metadata crossJoins — totals rows, the class×bucket EMD grid, the
    broadcast query side of hard negatives — are the documented
    metadata-scale exceptions), and the leakage join is a hash join on
    gram hashes."""
    for name in [
        "t_closeness_docs",
        "ess_importance_docs",
        "dedup_impact_report_docs",
        "doremi_reweight_sources",
        "split_leakage_ngram_docs",
        "quantile_normalize_scores_docs",
        "hard_negatives_embeddings",
        "spearman_len_tokens_sources",
        "silhouette_kmeans_embeddings",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    # the big-big leakage join must be a shuffled hash join on gram_h,
    # never sort-merge-with-python or nested loop
    leak = plan_of(spark, "split_leakage_ngram_docs")
    assert "BroadcastNestedLoopJoin" not in leak
    # hard negatives: query side broadcasts; exactly the knn_cosine shape
    hneg = plan_of(spark, "hard_negatives_embeddings")
    assert "BroadcastExchange" in hneg


def test_round9_batch3_plan_shapes(spark):
    """Residual IVF-PQ, LPA, and the quantile-summary merge keep their
    docstring shapes: no Python stages, no corpus-side cartesian (the
    LUT/probe broadcasts and scalar-totals crossJoins are the documented
    metadata-scale exceptions), and LPA's half-round joins are hash
    joins."""
    for name in [
        "pq_ivf_residual_topk_embeddings",
        "label_propagation_trade_graph",
        "quantile_merge_summaries_docs",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    lpa = plan_of(spark, "label_propagation_trade_graph")
    assert "TakeOrderedAndProject" in lpa  # top-20 communities, no global sort


def test_round9_batch4_plan_shapes(spark):
    """Conformal, bootstrap, and golden-record keep their shapes: no
    Python stages, no corpus cartesian (scalar-totals crossJoins are the
    documented exception); the bootstrap's replica expansion is a narrow
    explode, not a join."""
    for name in [
        "conformal_coverage_docs",
        "bootstrap_se_sources",
        "golden_record_customers",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    boot = plan_of(spark, "bootstrap_se_sources")
    assert "Generate" in boot  # explode(sequence(0,31)) = narrow replica map


def test_round9_batch5_plan_shapes(spark):
    """MaxSim is one narrow map (literal query tokens, zero joins before
    the top-k window); MMR's corpus stage is the same broadcast scan knn
    uses — all selection steps run on the ≤8-row shortlist."""
    for name in ["colbert_maxsim_topk", "mmr_diversify_topk"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    maxsim = plan_of(spark, "colbert_maxsim_topk")
    # no join at all on the scoring path: queries ride as literals
    assert "Join" not in maxsim.split("TakeOrdered")[0].split("Window")[0]


def test_round9_batch6_plan_shapes(spark):
    """IVM: the dim-repair path broadcasts the key-restricted updated dim
    (never reshuffling the fact for a dim update); SRM: two aggs + a 1x1
    scalar crossJoin."""
    for name in ["ivm_join_orders_customer", "ab_srm_check_events"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    ivm = plan_of(spark, "ivm_join_orders_customer")
    assert "BroadcastHashJoin" in ivm  # repaired path: A broadcast-joins dB


def test_round9_batch7_plan_shapes(spark):
    """DiD / churn hazard / conversion test: one corpus agg each plus
    metadata tails; no Python stages, no corpus cartesian (the 1x1
    arm-pair crossJoins are the documented scalar exception)."""
    for name in [
        "diff_in_diff_events",
        "churn_hazard_events",
        "ab_conversion_test_events",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_round9_batch8_plan_shapes(spark):
    """Advisor/OOD/leaderboard: no Python stages, no corpus cartesian;
    the OOD scoring is a single narrow map (moments ride as literals)
    feeding TakeOrdered, and the advisor never runs a full join."""
    for name in [
        "join_order_advisor",
        "ood_mahalanobis_embeddings",
        "decayed_leaderboard_events",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    ood = plan_of(spark, "ood_mahalanobis_embeddings")
    assert "TakeOrderedAndProject" in ood


def test_round9_batch9_plan_shapes(spark):
    """AMS: one narrow sign map + one agg; Adamic-Adar: the wedge
    self-join shape triangles use (hash join, never cartesian);
    encoding advisor: keyed lag windows, no global sort."""
    for name in [
        "ams_f2_events",
        "adamic_adar_suppliers",
        "encoding_advisor_lineitem",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    aa = plan_of(spark, "adamic_adar_suppliers")
    assert "TakeOrderedAndProject" in aa


def test_round9_batch10_plan_shapes(spark):
    """RBO / k-fold balance / ANOVA: no Python stages, no corpus
    cartesian; the ANOVA is pure map-side-combined aggregation."""
    for name in [
        "rbo_rankings_embeddings",
        "kfold_balance_docs",
        "anova_f_sources",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    anova = plan_of(spark, "anova_f_sources")
    assert "partial" in anova.lower()  # map-side combine before the shuffle


def test_forecast_mase_plan_shape(spark):
    plan = plan_of(spark, "forecast_mase_events")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_round9_wave10_plan_shapes(spark):
    for name in ["loo_source_value_docs", "wasserstein_pairs_sources"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_round9_wave11_plan_shapes(spark):
    """Exact-k sample: one keyed rank window; review queue: the shared
    AllPairs machinery at the low threshold, no cartesian."""
    for name in ["stratified_exact_k_docs", "dedup_review_queue_docs"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_round9_wave12_plan_shapes(spark):
    for name in ["assoc_triples_lineitem", "rolling_wau_events"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_round9_wave13_plan_shapes(spark):
    for name in ["mad_events", "data_contract_docs"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    dc = plan_of(spark, "data_contract_docs")
    assert "partial" in dc.lower()  # one conditional-count agg, combined


def test_round9_wave14_plan_shapes(spark):
    for name in ["int8_recall_qc_embeddings", "kcenter_coreset_embeddings"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_cluster_keywords_plan_shape(spark):
    plan = plan_of(spark, "cluster_keywords_embeddings")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_winnow_consumers_probe_stored_fingerprints(spark):
    """r10 (the r9 verdict's task #3): every winnowing-fingerprint
    consumer must READ THE COMMITTED SNAPSHOT (vtab_fp_* bucketed
    catalog table) — never re-derive the shingle→md5→window-min pipeline
    from a raw documents scan. At 100 TB this is one corpus-scale
    fingerprint job per night vs one per report."""
    for name in (
        "winnow_fingerprint_docs",
        "source_overlap_matrix_docs",
        "plagiarism_pairs_docs",
    ):
        plan = plan_of(spark, name)
        assert "vtab_fp_" in plan, f"{name} must probe the stored table"
        assert "documents.parquet" not in plan, (
            f"{name} must not re-scan the corpus"
        )
        # the winnow derivation itself (k-gram md5 transform) is absent;
        # match the CALL marker "md5(" — parentheses can't occur in the
        # random store path, so this can't collide with a tmpdir name
        assert "md5(" not in plan, f"{name} recomputes fingerprints"
    # and the build query proves the stored content (reads it back)
    plan = plan_of(spark, "winnow_fingerprint_build_docs")
    assert "vtab_fp_" in plan


def test_unpartitioned_windows_whitelisted():
    """r10 (the r8/r9 ADVICE suggestion made executable): no registered
    query may contain a Window with an EMPTY partitionSpec — the
    single-partition funnel — unless its input is documented
    metadata-scale. plan_audit.py counts them per query (the unpartWin
    column + summary line in PLANS.md); this test pins the flagged set
    to the audited whitelist, so any NEW query that funnels a
    corpus-sized relation through one task fails here until it is
    consciously justified below."""
    import os
    import re

    # each entry: the audited reason its window input is NOT corpus-sized
    whitelist = {
        "ams_f2_events": "16 sketch counters",
        "auc_quality_classifier_docs": "distinct-score grid",
        "churn_hazard_events": "|periods| hazard rows",
        "conformal_coverage_docs": "distinct-score calibration grid",
        "curriculum_bins_docs": (
            "per-snapshot (id, score) table, 16 B/row; the documented "
            "100 TB path is inference.curriculum_bins_by_cuts"
        ),
        "doremi_reweight_sources": "|sources| mixture rows",
        "funnel_windowed_events": "|steps|-row stacked summary",
        "neyman_allocation_events": "|strata| allocation rows",
        "ood_mahalanobis_embeddings": "post-top-20 rank only",
        "pareto_quality_docs": "|distinct n_chars| grid (bounded domain)",
        # quantile_merge_summaries_docs: its merged-|summaries| and
        # truth-grid windows are still unpartitioned-but-metadata-scale,
        # but since the r14 eager cuts they run at build time behind
        # localCheckpoints, so the audited final plan no longer shows
        # them — removed from the whitelist to keep the gate exact.
        "rrf_fusion_topk_docs": "post-top-k shortlists",
        "unimax_mixture_sources": "|sources| allocation rows",
    }
    plans = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(plans) as f:
        txt = f.read()
    m = re.search(
        r"Unpartitioned-window queries \(must each be whitelisted as "
        r"metadata-scale\): (.+)", txt
    )
    assert m, "PLANS.md lacks the unpartitioned-window summary line"
    flagged = (
        set()
        if m.group(1).strip() == "none"
        else {s.strip() for s in m.group(1).split(",")}
    )
    unexpected = flagged - set(whitelist)
    assert not unexpected, (
        f"unwhitelisted single-partition Window in: {sorted(unexpected)} — "
        "partition it or document why its input is metadata-scale"
    )
    gone = set(whitelist) - flagged
    assert not gone, (
        f"stale whitelist rows (no longer flagged): {sorted(gone)}"
    )


def test_unpartitioned_window_detector_shapes():
    """The PLANS.md unpartWin column rests on string-parsing Window nodes;
    pin the three shapes against canned plan lines so a Spark plan-format
    drift (or a parser regression) fails loudly instead of silently
    blessing single-partition windows."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "tools")
    )
    from plan_audit import count_unpartitioned_windows

    unpart = (
        "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS r#2], [id#0L ASC NULLS FIRST]"
    )
    part_ordered = (
        "+- Window [row_number() windowspecdefinition(g#1L, id#0L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$())) AS r#4], [g#1L], "
        "[id#0L ASC NULLS FIRST]"
    )
    part_unordered = (
        "+- Window [sum(id#0L) windowspecdefinition(g#1L, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS s#7L], [g#1L]"
    )
    group_limit = "+- WindowGroupLimit [g#1L], [id#0L ASC NULLS FIRST], 5"
    assert count_unpartitioned_windows(unpart) == 1
    assert count_unpartitioned_windows(part_ordered) == 0
    assert count_unpartitioned_windows(part_unordered) == 0
    assert count_unpartitioned_windows(group_limit) == 0
    assert count_unpartitioned_windows(
        "\n".join([unpart, part_ordered, unpart])
    ) == 2


def test_plans_artifact_covers_registry():
    """Companion gate to test_unpartitioned_windows_whitelisted (which
    reads the committed PLANS.md): a query registered WITHOUT
    regenerating PLANS.md fails HERE, so the unpartitioned-window (and
    rowPy) audits can never silently lag the registry — the loophole a
    plan-artifact gate otherwise has (r10 review finding)."""
    import os
    import re

    plans = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(plans) as f:
        rows = {
            m.group(1)
            for m in re.finditer(r"^\| ([a-z0-9_]+) \|", f.read(), re.M)
        } - {"query"}  # the markdown header row
    assert rows, "PLANS.md has no query rows"
    registered = set(merged_queries())
    missing = registered - rows
    assert not missing, (
        f"queries registered but absent from PLANS.md — re-run "
        f"tools/plan_audit.py: {sorted(missing)}"
    )
    stale = rows - registered
    assert not stale, f"PLANS.md rows for unregistered queries: {sorted(stale)}"


def test_merged_queries_surfaces_registry_import_error(monkeypatch):
    """A registry module that fails to import must raise its own
    ImportError, not drop out of the pool and resurface as a missing
    _PRIORITY name."""
    import sys

    import data_ingestion_spark.operators as ops
    import data_ingestion_spark.operators.registry3  # noqa: F401

    monkeypatch.delattr(ops, "registry3")
    monkeypatch.setitem(sys.modules, "data_ingestion_spark.operators.registry3", None)
    with pytest.raises(ImportError, match="registry3"):
        merged_queries()


def test_jaccard_family_probes_stored_shingle_base(spark):
    """r11 (the r10 verdict's task #4): every exact-Jaccard consumer must
    READ THE COMMITTED SHINGLE-BASE SNAPSHOT (vtab_base_*/vtab_fpos_*
    bucketed catalog tables) — never re-run tokenize → shingle →
    global-df → frequency-reorder from a raw documents scan. At 100 TB
    this is one corpus-scale index job per night vs one per report.
    Scope: the non-iterative consumers — the connected-components family
    (clusters/two-star/keep-best) consumes the SAME jaccard_pairs_stored
    stream but its iterative localCheckpoints replace the upstream plan
    with an ExistingRDD scan, so its probe shape is pinned transitively
    through dedup_jaccard_pairs_docs here plus the value-equality oracle."""
    probe_only = (
        # query -> the store member its VISIBLE plan must scan (the
        # recall QC lazily checkpoints its truth side, so only the
        # minhash side's base probe shows; the truth side's shape is the
        # jaccard_pairs_stored plan pinned by the first entry)
        ("dedup_jaccard_pairs_docs", "vtab_fpos_"),
        ("dedup_review_queue_docs", "vtab_fpos_"),
        ("dedup_containment_pairs_docs", "vtab_fpos_"),
        ("minhash_band_recall_docs", "vtab_base_"),
    )
    for name, member in probe_only:
        plan = plan_of(spark, name)
        assert member in plan, (
            f"{name} must probe the stored shingle base ({member})"
        )
        # the shingle derivation (token split + 3-gram concat_ws) and the
        # frequency reorder (collect_list of (df_s, s) structs) are gone
        assert "concat_ws( , " not in plan, f"{name} re-shingles the corpus"
        assert "collect_list" not in plan, f"{name} re-runs the df reorder"
        assert "documents.parquet" not in plan, (
            f"{name} must not re-scan the corpus"
        )
    # the candidate self-join reads BOTH sides from the bucketed fpos
    # store: the only Exchange left in the pair queries is the candidate
    # distinct — the corpus-mass prefix stream never re-shuffles
    import re

    plan = plan_of(spark, "dedup_jaccard_pairs_docs")
    assert plan.count("Bucketed: true") >= 2, plan[:2000]
    # and the build query proves the stored content (reads it back)
    plan = plan_of(spark, "shingle_base_build_docs")
    assert "vtab_fpos_" in plan
