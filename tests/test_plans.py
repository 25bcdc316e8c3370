"""Physical-plan regression tests — guard the scale properties SCALE.md
documents.  A correctness-preserving refactor that loses predicate pushdown,
column pruning, or a broadcast would silently cost 100× at 100 TB; these
tests make the plan shape part of the contract.
"""

import pytest

from worlddatapipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _fmt(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan(spark, name):
    """Formatted plan of a registry query (see `_built_plan`)."""
    return _built_plan(spark, lambda: QUERIES[name](spark, SF))


def _built_plan(spark, build):
    """Formatted plan of the frame ``build()`` returns.  Builders that
    keep a barrier (``session.materialize_and_release``: persist + eager
    localCheckpoint, only where two readers share no exchange) return a
    lineage-truncated ExistingRDD scan — for those, capture the
    PRE-checkpoint plan at the truncation point (the same interception
    tools/plan_audit.py uses) and assert over captured + final text
    together.  Driver-side literals are ``session.literal_frame`` Arrow
    tables (``LocalTableScan``), so ``Scan ExistingRDD`` in a plan means a
    checkpoint and nothing else."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    captured = []
    orig = _CDF.localCheckpoint

    def lc(self, *a, **k):
        try:
            captured.append(_fmt(spark, self))
        except Exception:
            pass
        return orig(self, *a, **k)

    _CDF.localCheckpoint = lc
    try:
        df = build()
    finally:
        _CDF.localCheckpoint = orig
    final = _fmt(spark, df)
    if "Scan ExistingRDD" in final and captured:
        return "\n".join(captured + [final])
    return final


def _hash_exchanges(plan):
    """Count real shuffle exchanges.  Formatted-mode explain puts the
    partitioning on an "Arguments:" line under a numbered Exchange node —
    the adjacent string "Exchange hashpartitioning" only exists in simple
    mode and matches NOTHING here (the round-4 plan-audit review catch)."""
    return plan.count("Arguments: hashpartitioning(")


def test_filter_reaches_parquet_scan(spark):
    plan = _plan(spark, "segment_listing")
    assert "PushedFilters:" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(c_acctbal,1000.0)" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "pricing_summary")
    # lineitem has 16 columns; the scan must read only the 7 used
    scan = plan.split("Scan parquet")[-1]
    read_schema = [ln for ln in scan.splitlines() if "ReadSchema" in ln][0]
    assert read_schema.count(":") <= 8  # 7 fields + struct<
    assert "l_comment" not in read_schema


def test_partial_aggregation_before_exchange(spark):
    plan = _plan(spark, "pricing_summary")
    # map-side combine: HashAggregate below the Exchange
    assert plan.index("HashAggregate") < plan.index("Exchange") or (
        "partial" in plan.lower()
    )


def test_dims_broadcast_in_star_join(spark):
    plan = _plan(spark, "supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle(spark):
    plan = _plan(spark, "asof_click_before_purchase")
    # the union+window formulation must not produce a join at all —
    # one hash-partitioning exchange on user_id, no cross product
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert _hash_exchanges(plan) <= 2


def test_range_join_small_dim_broadcasts(spark):
    plan = _plan(spark, "value_band_range_join")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_range_join_is_equi(spark):
    plan = _plan(spark, "value_band_bucketed")
    # the bucketed path must be a hash join on the bucket, not a nested loop
    assert "CartesianProduct" not in plan


def test_no_cartesian_anywhere_in_topk(spark):
    plan = _plan(spark, "top_unshipped_orders")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # global top-k, never a full sort


def test_exists_probe_is_semi_join(spark):
    """The LIMIT-1 existence probe must stay a semi join (stops at first
    match) — never a full inner join + distinct."""
    plan = _plan(spark, "order_exists_probe")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_min_cost_supplier_broadcasts_dims(spark):
    """Q2-shape: part filter pushed to the scan, supplier broadcast."""
    plan = _plan(spark, "min_cost_supplier")
    assert "LessThanOrEqual(p_size,5)" in plan
    assert "BroadcastHashJoin" in plan


def test_distinct_agg_two_phase(spark):
    """countDistinct must expand to partial aggregates before the exchange,
    not a global shuffle of raw rows."""
    plan = _plan(spark, "supplier_distinct_counts")
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_cosine_pairs_no_shuffle_of_corpus_pairs(spark):
    """Pair scoring happens inside the Arrow batch scorer against a
    broadcast-variable matrix — the O(n²) pair space never appears in the
    plan at all: no join operator, no cartesian, only the corpus scan +
    MapInPandas (plus one explicit repartition to spread batches)."""
    plan = _plan(spark, "embedding_cosine_dups")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_discount_revenue_filters_pushed(spark):
    """Q6-shape: all three predicates reach the parquet scan; zero-shuffle agg."""
    plan = _plan(spark, "discount_revenue")
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_discount,0.02)" in plan
    assert "LessThan(l_quantity,24.0)" in plan


def test_nation_pair_volume_broadcasts_dims(spark):
    """Q7-shape: four dimension hops broadcast; only the fact-fact join shuffles."""
    plan = _plan(spark, "nation_pair_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_part_profit_like_filter_prunes_build_side(spark):
    """Q9-shape: the LIKE filter applies to part before it broadcasts."""
    plan = _plan(spark, "part_profit_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "widget" in plan  # contains-filter present (pushed or post-scan)
    assert "CartesianProduct" not in plan


def test_returned_top_customers_is_topk(spark):
    plan = _plan(spark, "returned_top_customers")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_part_value_share_scalar_broadcast(spark):
    """Q11-shape: the one-row total crossJoins broadcast, never a shuffle join."""
    plan = _plan(spark, "part_value_share")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_salted_sum_two_phase(spark):
    """The salted aggregate must show two HashAggregate phases (salt, then key)."""
    plan = _plan(spark, "salted_event_value_sum")
    assert plan.count("HashAggregate") >= 2


def test_late_order_exists_is_semi_join(spark):
    """Q4-shape: EXISTS stays a left-semi join (first match stops the probe),
    and the orders date range reaches the parquet scan."""
    plan = _plan(spark, "late_order_priority_counts")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters:" in plan
    assert "o_orderdate" in plan.split("PushedFilters:", 1)[1]


def test_local_supplier_volume_broadcasts_dims(spark):
    """Q5-shape: the cyclic c_nationkey==s_nationkey predicate rides the
    broadcast joins — no extra shuffle, no cross product."""
    plan = _plan(spark, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_brand_band_quantity_range_pushed(spark):
    """Q19-shape: the OR-of-ranges on quantity prunes the lineitem scan and
    the brand/size union filters part before its broadcast."""
    plan = _plan(spark, "brand_band_revenue")
    assert "BroadcastHashJoin" in plan
    pushed = plan.split("PushedFilters:", 1)[1]
    assert "GreaterThanOrEqual(l_quantity,1.0)" in pushed
    assert "LessThanOrEqual(l_quantity,30.0)" in pushed
    assert "Brand#12" in plan


def test_excess_stock_nested_semi_join(spark):
    """Q20-shape: the nested IN collapses to a left-semi join and the red-part
    prefix filter reaches the part scan."""
    plan = _plan(spark, "excess_stock_suppliers")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "StringStartsWith(p_name,red)" in plan


def test_sole_late_suppliers_no_correlated_rescan(spark):
    """Q21-shape: the EXISTS/NOT-EXISTS rewrite scans lineitem exactly once —
    one aggregate + windows, not three correlated probes."""
    plan = _plan(spark, "sole_late_suppliers")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    scans = [ln for ln in plan.splitlines() if "lineitem.parquet" in ln]
    assert len(scans) == 1


def test_length_band_scalar_broadcast(spark):
    """The 5-row per-lang percentile frame must broadcast back onto the
    corpus — the corpus itself never reshuffles for the band check."""
    plan = _plan(spark, "length_band_filter")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_shard_packing_single_window_shuffle(spark):
    """One running-total window per source: exactly one hash-partitioning
    exchange on the source key before the final aggregate."""
    plan = _plan(spark, "token_shard_packing")
    assert plan.count("Window") >= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_minhash_bucket_guard_shares_join_exchange(spark):
    """The max_bucket guard must not add a join branch — it is a size
    filter on each collected (band, bucket), inside the one bucket shuffle
    of ``bucket_pairs``; the operator has no self-join and no window."""
    from worlddatapipeline_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=32, bands=8, shingle_n=3
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # guard is a Filter on the collected bucket, not an extra
    # aggregate-plus-semi-join
    assert "LeftSemi" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_bloom_probe_is_map_side(spark):
    """The Bloom prefilter must evaluate BEFORE any join/exchange on the
    corpus side: the probe filter sits under the first Exchange above the
    train-shingle scan, so pruned rows never shuffle."""
    plan = _plan(spark, "bloom_decontamination")
    assert "CartesianProduct" not in plan
    # the probe is an ArrowEvalPython/pythonUDF stage feeding a Filter
    assert "pythonUDF" in plan or "ArrowEvalPython" in plan


def test_funnel_single_aggregate_pass(spark):
    """Funnel = one per-user conditional-min aggregate + one global rollup:
    exactly two hash aggregates deep, no join, no window."""
    plan = _plan(spark, "funnel_conversion")
    assert "Join" not in plan
    assert "Window" not in plan


def test_reservoir_sample_no_global_sort(spark):
    plan = _plan(spark, "reservoir_sample_groups")
    # ranked window sorts within partitions only — no global Exchange range
    assert "rangepartitioning" not in plan.lower()


def test_variant_single_parse(spark):
    """parse_json must appear once (one VARIANT build), not once per
    extracted field."""
    plan = _plan(spark, "variant_props_extract")
    assert plan.count("parse_json") <= 1


def test_lateral_rewrites_to_window_no_cartesian(spark):
    plan = _plan(spark, "lateral_topk_suppliers")
    assert "CartesianProduct" not in plan


def test_zscore_two_shuffles(spark):
    plan = _plan(spark, "event_rate_zscore")
    assert "CartesianProduct" not in plan
    # hourly agg + per-user moments (+AQE may add coalesce reads) — the
    # plan must not balloon into repeated full-table exchanges
    assert _hash_exchanges(plan) <= 5


def test_partitioned_read_prunes_partitions(spark):
    """The filtered read over the hive-partitioned layout must show
    non-empty PartitionFilters — directories skipped at planning time."""
    plan = _plan(spark, "partition_pruned_stats")
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "event_type" in m.group(1)


def test_session_scale_configs_pinned(spark):
    """Guard against config rot in the session factory: AQE (runtime
    coalescing + skew-join splitting) and the UTC timezone contract are
    load-bearing for the 100 TB posture and the cross-engine oracles."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )


def test_zorder_key_is_pure_codegen(spark):
    """The Morton key must stay JVM-side arithmetic — no Python eval stage
    anywhere in the plan."""
    plan = _plan(spark, "zorder_cell_keys")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "shiftleft" in plan or "SHIFTLEFT" in plan.upper()


def test_skew_diagnosis_topk_not_global_sort(spark):
    """Top-10 hot keys must be TakeOrderedAndProject, never a full Sort of
    the counted frame."""
    plan = _plan(spark, "join_skew_diagnosis")
    assert "TakeOrderedAndProject" in plan


def test_char_entropy_two_aggregates_no_python(spark):
    """Char entropy = (doc, char) counts + corpus model + broadcast join —
    all JVM-side; the model side must come back as a broadcast."""
    plan = _plan(spark, "char_entropy_score")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_gopher_flags_zero_shuffle(spark):
    """The Gopher rules are a pure map stage: no Exchange in the plan."""
    plan = _plan(spark, "gopher_quality_flags")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_broadcasts_query_side_no_python(spark):
    """BM25: query vocabulary, df, and corpus stats must all arrive as
    broadcasts (inverted-index semi-join); scoring is pure codegen — no
    Python stage, no sort-merge join anywhere."""
    from worlddatapipeline_spark.operators.search import bm25_topk
    from worlddatapipeline_spark.session import load_tables

    docs = load_tables(spark, SF, ["documents"])["documents"]
    queries = spark.createDataFrame(
        [("q1", "spark join table")], "query_id string, query_text string"
    )
    df = bm25_topk(docs, queries)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 3
    assert "SortMergeJoin" not in plan


def test_k_anonymity_single_agg_shuffle(spark):
    plan = _plan(spark, "k_anonymity_audit")
    assert _hash_exchanges(plan) <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sample_single_window_shuffle(spark):
    """A-ES sampling: one hash exchange on the group key for the window;
    the md5-uniform key is codegen'd, never Python."""
    plan = _plan(spark, "weighted_sample_wor")
    assert _hash_exchanges(plan) <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_scd2_one_exchange_per_key(spark):
    """SCD2 collapse: every window and the run-collapse groupBy must ride
    ONE exchange keyed by the dimension key — no per-window re-shuffle."""
    plan = _plan(spark, "scd2_status_history")
    assert _hash_exchanges(plan) <= 2
    assert "CartesianProduct" not in plan


def test_ivm_merge_single_join_no_rescan(spark):
    """IVM merge: base and delta each aggregate once, combine via ONE
    full-outer join keyed by the group key — no extra exchanges beyond the
    two rollups + join, and no Python stage."""
    plan = _plan(spark, "incremental_agg_maintenance")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # 2 rollup exchanges + (at most) the join's repartitions
    assert _hash_exchanges(plan) <= 5


def test_cdc_apply_one_window_shuffle(spark):
    """CDC apply: union + one row_number window keyed by the entity —
    a single hash exchange, never a join per operation type."""
    plan = _plan(spark, "cdc_snapshot_apply")
    assert _hash_exchanges(plan) <= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_curation_pipeline_single_plan_shapes(spark):
    """Composed curation flow: quality filters must fuse into the scan
    (pushed/codegen'd, no Python), the dedup + shingle joins must not
    degrade to cartesian, and the anti-join stays a join (no collect)."""
    plan = _plan(spark, "curation_pipeline_stats")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_pit_join_single_asof_shuffle_no_range_join(spark):
    """Point-in-time join must ride the union+window as-of kernel — no
    BroadcastNestedLoopJoin/CartesianProduct from a range condition, no
    rangepartitioning."""
    plan = _plan(spark, "pit_customer_status")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan.lower()


def _final_plan(spark, name):
    """FINAL adaptive plan (after an action): AQE stage reuse only shows
    here — the static/initial plan prints every duplicate subtree.  The
    action must be collect() on the SAME DataFrame: a .write creates its
    own QueryExecution and df's stays an un-finalized initial plan."""
    df = QUERIES[name](spark, SF)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in s
    return s


def test_dsir_single_scan_via_reuse(spark):
    """dsir_importance_weights must scan the corpus ONCE: the (doc,
    bucket, is_target) stage feeds the ratio branches through
    ReusedExchange.  Guards the grouping-key trick (the target flag rides
    the key so column pruning can't specialize the subtrees) and the
    explicit isNotNull(b) that keeps them canonical-identical."""
    s = _final_plan(spark, "dsir_importance_weights")
    final = s.split("Initial Plan")[0] if "Initial Plan" in s else s
    assert final.count("Scan parquet") == 1
    assert final.count("ReusedExchange") >= 2


def test_unigram_lm_single_scan_via_checkpoint(spark):
    """Round 7 (ADVICE r6): the scored (id, n_tokens, bits_per_token)
    frame is localCheckpointed so the heavy (doc,term) scorer runs ONCE —
    the final plan must read the checkpointed RDD (both the bounds
    aggregate and the output projection) and never re-scan the corpus
    parquet.  The r6 exchange-reuse form recomputed the scorer twice."""
    s = _final_plan(spark, "unigram_lm_perplexity")
    final = s.split("Initial Plan")[0] if "Initial Plan" in s else s
    assert final.count("Scan parquet") == 0
    assert final.count("Scan ExistingRDD") >= 1


def test_dq_report_single_conditional_agg_pass(spark):
    """All agg-kind constraints fuse into one scan; the suite's total
    scans = 1 (fused aggs) + 1 (unique groupBy) + 2 (FK sides)."""
    plan = _plan(spark, "dq_constraint_report")
    # five agg constraints -> exactly one aggregate subtree over orders
    # with five conditional sums (count the fused sum(CASE WHEN ...))
    import re
    partials = re.findall(r"partial_sum\(CASE WHEN", plan)
    assert len(partials) == 5


def test_interval_coverage_single_shuffle(spark):
    """Both windows + island groupBy + per-user rollup ride ONE user-key
    exchange (the island key extends the partitioning)."""
    plan = _plan(spark, "interval_coverage")
    assert _hash_exchanges(plan) == 1


def test_cusum_single_shuffle(spark):
    """Closed-form CUSUM: all four cumulative windows share one user-key
    exchange; no Python stage anywhere."""
    plan = _plan(spark, "cusum_drift_alarms")
    assert _hash_exchanges(plan) == 1
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_asof_tolerance_plan_matches_plain_asof(spark):
    """The tolerance gate must not change the single-shuffle as-of shape:
    same exchange count as the tolerance-free query, no extra join."""
    tol = _plan(spark, "asof_tolerance_click")
    plain = _plan(spark, "asof_click_before_purchase")
    assert _hash_exchanges(tol) == _hash_exchanges(plain)
    assert "SortMergeJoin" not in tol and "BroadcastHashJoin" not in tol


def test_skyline_prunes_at_scan_and_broadcasts_frontier(spark):
    """Local prune is an Arrow stage directly over the scan (no exchange
    below it) and the surviving pairs come back as a broadcast semi-join."""
    from worlddatapipeline_spark.session import load_tables
    from worlddatapipeline_spark.operators.aggregates import skyline_2d

    part = load_tables(spark, SF, ["part"])["part"]
    plan = _built_plan(
        spark,
        lambda: skyline_2d(
            part.select("p_partkey", "p_retailprice", "p_size"),
            "p_retailprice",
            "p_size",
        ),
    )
    assert "MapInPandas" in plan
    # prune sits on the scan: no shuffle between FileScan and MapInPandas
    scan_to_prune = plan.split("MapInPandas")[0]
    assert "Arguments: hashpartitioning(" not in scan_to_prune
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_negative_sampling_candidates_broadcast(spark):
    """The users × brands candidate space must build as a broadcast
    nested-loop against the 25-row brand DIMENSION — a shuffled cartesian
    here would be fact-sized at scale — and the interaction filter must
    stay a broadcast/hash anti-join, never a cartesian."""
    plan = _plan(spark, "negative_sampling_pairs")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_distinctive_terms_sample_broadcast(spark):
    """The sampled tf frame (doc_id < 50) broadcasts into the corpus df
    join so the vocabulary never shuffles for the sample, and the sample
    predicate reaches the parquet scan."""
    plan = _plan(spark, "distinctive_terms")
    assert "BroadcastHashJoin" in plan
    assert "LessThan(doc_id,50)" in plan


def test_global_index_sequence_over_sorted_range(spark):
    """global_index is Spark's distributed sequence over a sort within
    range partitions: the optimizer must never drop the sort (the index
    would then follow shuffle arrival order), and no Python stage is
    left in the plan."""
    import re

    plan = _plan(spark, "stable_row_index")
    assert "MapInPandas" not in plan
    # formatted tree, top-down, with column-pruning Projects skipped
    tree = plan.split("\n\n")[0]
    nodes = re.findall(r"\+- (\w+) \((\d+)\)", tree)
    nodes = [(op, i) for op, i in nodes if op != "Project"]
    k = [op for op, _ in nodes].index("AttachDistributedSequence")
    assert [op for op, _ in nodes[k + 1:k + 3]] == ["Sort", "Exchange"]
    exchange_id = nodes[k + 2][1]
    details = plan.split(f"({exchange_id}) Exchange")[1]
    assert details.split("\n\n")[0].count("Arguments: rangepartitioning(") == 1


def test_trimmed_mean_single_sort_shuffle(spark):
    """Rank and count windows share ONE per-type exchange; the trim is a
    codegen'd comparison, not a second shuffle."""
    plan = _plan(spark, "trimmed_mean_values")
    assert _hash_exchanges(plan) == 1


# ---------------------------------------------------------------------------
# Registry-wide fingerprint invariants (VERDICT r5 item 8): pinned over the
# committed PLAN_FINGERPRINTS.json, which tools/plan_audit.py regenerates
# each round — so any plan regression anywhere in the registry (a cartesian
# sneaking in, a new single-partition funnel, a broadcast falling back to
# sort-merge) fails pytest instead of hiding in a JSON diff.
# ---------------------------------------------------------------------------

def _fingerprints():
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..",
                        "PLAN_FINGERPRINTS.json")
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)["fingerprints"]


# Queries allowed >1 SinglePartition exchange: every one funnels only
# BOUNDED frames (1-row scalar aggregates, fixed-size contract/recall
# readouts, k-row centroid frames) — never a per-row fact frame.  A new
# entry here needs the same justification before being added.
_SINGLE_EXCHANGE_OK = {
    "approx_quantile_contract",
    "dq_constraint_report",
    # r7 self-check contract: sizes_sum_to_corpus windows over the
    # POST-groupBy cluster-size frame — bounded at k=8 rows by
    # construction, never the corpus (VERDICT r6 item 9)
    "embedding_kmeans",
    "embedding_ivf_recall",
    "embedding_lsh_recall",
    "fuzzy_record_linkage",
    "hll_rollup_contract",
    "incremental_agg_maintenance",
    "minhash_recall_check",
    "segment_set_ops",
    "simhash_exact_containment",
    "simulate_contract",
    "theta_sketch_overlap",
    "unigram_lm_perplexity",
    # r9: the audit now fingerprints INTERNALLY MATERIALIZED plans too
    # (VERDICT r8 item 4), so queries whose bounded scalar readouts were
    # hidden behind materialize_and_release surfaced.  Each inspected:
    # 1-row experiment/contract readouts (cuped/did/KM, pair-cap audits)
    "cuped_adjusted_ab",
    "did_readout",
    "kaplan_meier_churn",
    "minhash_verified_dups",
    "short_text_editdups",
    # 1-row aggregates: the max-ts anchor (read by the per-user frame and
    # by its user count) and the user count the three tilings share
    "rfm_segments",
    # the 1-row user count + the 10-row decile window (VERDICT r8 item 3)
    "gini_purchase_concentration",
    # lazy builders: each reader of a 1-row scalar aggregate shows its own
    # SinglePartition exchange in the static plan (the value-range bounds
    # read by both halves; the attribution sweep read by 3 union branches)
    "attribution_window_sweep",
    "distribution_drift",
}

# Exactly the queries whose committed plan contains a SortMergeJoin: all
# large⋈large by design (fact-to-fact joins where neither side is
# broadcastable at scale).  A NEW query appearing with an SMJ usually means
# a broadcast fell back — inspect before allowlisting; a query whose plan
# loses its SMJ leaves the set, so a later fallback there fails too.
_SMJ_OK = {
    # merge/reconcile of two table-sized sides
    "catalog_upsert",
    "customer_order_reconcile",
    "incremental_agg_maintenance",
    # edge⋈edge iterative graph kernels
    "entity_resolution_clusters",
    "triangle_count",
    # derived-frame equality joins in recall/bit-replay contracts
    "embedding_ivf_recall",
    "embedding_lsh_recall",
    "simulate_contract",
    # TPC-H Q5/Q7-shaped lineitem⋈orders on orderkey: each fact side is
    # pruned by its own broadcast dimension hops, then the two facts meet
    # in the one orderkey shuffle (plans/r11/*_after.txt)
    "local_supplier_volume",
    "nation_pair_volume",
    # users×brands candidate anti-join against the interaction fact
    "negative_sampling_pairs",
    # r9: internal-plan capture surfaced these (VERDICT r8 item 4).
    # Iterative edge⋈frontier / edge⋈rank kernels — fact⋈fact per round
    "bfs_hops_from_hubs",
    "pagerank_scores",
    # lineitem⋈orders fact⋈fact + the basket self-join
    "brand_affinity_topk",
    # full-outer join of the two halves' BOUNDED bin frames — full_outer
    # can never broadcast, so SMJ on a tiny frame is the only plan
    "distribution_drift",
}


def test_fingerprints_no_cartesian_anywhere():
    fps = _fingerprints()
    offenders = [n for n, fp in fps.items() if fp.get("cartesian")]
    assert offenders == [], f"cartesian products crept in: {offenders}"


def test_fingerprints_no_errors():
    fps = _fingerprints()
    errs = {n: fp["error"] for n, fp in fps.items() if "error" in fp}
    assert errs == {}, f"fingerprint sweep recorded errors: {errs}"


def test_fingerprints_no_python_rdd_scan():
    """Driver-side literals go through ``session.literal_frame`` (an Arrow
    ``LocalTableScan``); a frame built from a Python list would plan as a
    Python-RDD scan and show up here."""
    fps = _fingerprints()
    offenders = sorted(n for n, fp in fps.items() if fp.get("scan_python_rdd"))
    assert offenders == [], f"plans scan a Python RDD: {offenders}"


def test_fingerprints_single_exchange_only_on_bounded_frames():
    fps = _fingerprints()
    multi = {n for n, fp in fps.items() if fp.get("exchange_single", 0) > 1}
    rogue = multi - _SINGLE_EXCHANGE_OK
    assert rogue == set(), (
        f"new multi-SinglePartition queries (bounded-frame justification "
        f"required before allowlisting): {sorted(rogue)}"
    )


def test_fingerprints_smj_only_where_large_large():
    fps = _fingerprints()
    smj = {n for n, fp in fps.items() if fp.get("sort_merge_join", 0) > 0}
    assert smj == _SMJ_OK, (
        f"new sort-merge joins (did a broadcast fall back?): "
        f"{sorted(smj - _SMJ_OK)}; allowlisted with none: "
        f"{sorted(_SMJ_OK - smj)}"
    )


def test_plan_fingerprints_match_committed():
    """The committed PLAN_FINGERPRINTS.json is the live plan of every
    registry query: re-fingerprint them all in a fresh process (a fresh
    get_spark() session, not this module's test-mutated one) and require
    zero changes, so the registry-wide invariants above check real plans."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "tools/plan_audit.py", "--diff",
         "PLAN_FINGERPRINTS.json"],
        cwd=root, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    diffs = [ln for ln in proc.stdout.splitlines() if ln.startswith("DIFF ")]
    assert "0 fingerprint changes" in proc.stdout, "\n".join(diffs)


# Registry queries whose call tree reaches no persist + localCheckpoint
# barrier: the builder returns a lazy plan and running it pins nothing.
_LAZY_QUERIES = [
    "attribution_window_sweep",
    "bloom_decontamination",
    "bm25_topk_search",
    "cuped_adjusted_ab",
    "curriculum_order_stats",
    "daily_autocorrelation",
    "degree_assortativity",
    "did_readout",
    "distribution_drift",
    "dow_seasonality",
    "embedding_ivf_recall",
    "gini_purchase_concentration",
    "hybrid_rank_fusion",
    "lead_lag_correlation",
    "minhash_candidates",
    "negative_sampling_pairs",
    "pmi_term_pairs",
    "rfm_segments",
    "seasonal_decompose",
    "session_conformance",
    "simhash_exact_containment",
    "simhash_near_dups",
    "stable_row_index",
    "theil_sen_trend",
    "triangle_count",
]


@pytest.mark.parametrize("name", _LAZY_QUERIES)
def test_lazy_query_has_no_barrier(spark, name):
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    checkpoints = []
    orig = _CDF.localCheckpoint

    def lc(self, *a, **k):
        checkpoints.append(1)
        return orig(self, *a, **k)

    def ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = ids()
    _CDF.localCheckpoint = lc
    try:
        df = QUERIES[name](spark, SF)
    finally:
        _CDF.localCheckpoint = orig
    assert checkpoints == []
    assert "Scan ExistingRDD" not in _fmt(spark, df)
    df.collect()
    assert ids() - before == set()


# Jobs a warm build of each benchmark catalog query may launch inside
# ``QUERIES[name](spark, dir)``: input tables come from the schema memo, so
# only embedding_topk's query-side collect remains.
_WARM_BUILD_JOBS = {
    "region_rollup": 0,
    "supplier_volume": 0,
    "doc_quality": 0,
    "dedup_docs_exact": 0,
    "embedding_topk": 1,
    "jpeg_roundtrip_contract": 0,
}


@pytest.mark.parametrize("name", sorted(_WARM_BUILD_JOBS))
def test_warm_build_job_budget(spark, name):
    from test_schema_memo import jobs_launched

    QUERIES[name](spark, SF)
    _, jobs = jobs_launched(spark, lambda: QUERIES[name](spark, SF))
    assert jobs == _WARM_BUILD_JOBS[name]
