"""Physical-plan quality gates: these assert the *plan*, not the
result — the properties that decide whether a query survives a 100x
scale-up (filter pushdown to the scan, column pruning, broadcast joins
for small dims, TakeOrderedAndProject for top-k, whole-stage codegen,
partial aggregation)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from agentic_workflow_for_data_transformation_spark.benchqueries import queries

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def plan_of(spark, name: str) -> str:
    df = queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushes_down_to_scan(spark):
    plan = plan_of(spark, "p01_filter_gt_project")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    # column pruning: the scan must read only the 3 projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>" in plan


def test_string_predicate_pushdown(spark):
    plan = plan_of(spark, "p07_startswith")
    assert "StringStartsWith(p_name,red)" in plan


def test_topk_plans_as_take_ordered(spark):
    # sort+limit must NOT be a global sort: TakeOrderedAndProject keeps
    # per-partition heaps and merges k rows — O(n) scan, no shuffle of n
    plan = plan_of(spark, "p04_sort_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_star_join_broadcasts_dims(spark):
    plan = plan_of(spark, "x_join_star_broadcast")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan  # fact table must not shuffle for the join


def test_aggregate_is_partial_then_final(spark):
    plan = plan_of(spark, "p20_tpch_q1")
    # map-side partial aggregation: the shuffle carries one row per
    # (group x partition), not the raw table
    assert "partial_sum" in plan or "partial_count" in plan
    assert "HashAggregate" in plan


def test_whole_stage_codegen_covers_scan_filter(spark):
    plan = plan_of(spark, "p01_filter_gt_project")
    # '*(n)' prefixes mark WholeStageCodegen stages in the compact form
    assert "*(1) Filter" in plan or "WholeStageCodegen" in plan


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, "x_join_semi")
    assert "LeftSemi" in plan


@pytest.mark.parametrize("name", ["ns_sim_topk_bruteforce", "ns_sim_topk_lsh"])
def test_similarity_topk_no_global_sort(spark, name):
    plan = plan_of(spark, name)
    assert "TakeOrderedAndProject" in plan


def test_q6_pushes_all_predicates(spark):
    plan = plan_of(spark, "x_tpch_q6")
    for pushed in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({pushed})" in plan
    assert "partial_sum" in plan  # map-side partial aggregation


def test_spec_join_window_honors_broadcast_hint(spark):
    plan = plan_of(spark, "x_spec_join_window")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_join_broadcasts_interval_dim(spark):
    # BETWEEN join against a 3-row dim: BroadcastNestedLoopJoin streams
    # the fact side with zero shuffle
    plan = plan_of(spark, "x_join_range")
    assert "BroadcastNestedLoopJoin" in plan


def test_asof_join_is_one_shuffle_no_pair_join(spark):
    # union + running-last: there must be NO join of the two event sides
    # (a ts-inequality join would be a near-cross-product per key)
    plan = plan_of(spark, "x_join_asof")
    assert "Window" in plan
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan


def test_hash_sample_is_pure_filter_no_shuffle(spark):
    plan = plan_of(spark, "ns_sample_hash")
    assert "Exchange" not in plan  # sampling must never shuffle


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Bucket-sorted saved tables co-locate join keys at write time:
    the join plan must contain NO Exchange — the 100 TB recipe for a
    repeatedly-joined fact pair."""
    from agentic_workflow_for_data_transformation_spark.sources import (
        read_parquet_table,
        write_parquet,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_parquet(
            read_parquet_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
            tmp_path / "orders_b",
            buckets=(8, ["o_orderkey"], "t_orders_b"),
        )
        li = read_parquet_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        )
        write_parquet(li, tmp_path / "lineitem_b", buckets=(8, ["o_orderkey"], "t_lineitem_b"))
        joined = spark.table("t_orders_b").join(spark.table("t_lineitem_b"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_partitioned_ann_scan_prunes_files(spark):
    """ns_sim_topk_partitioned materializes the corpus partitioned by
    sign bucket and probes with a literal bucket: the re-read scan must
    carry the bucket predicate as a PartitionFilter (file-level pruning
    — at 100 TB the probe reads ~1/2^bits of the corpus files)."""
    plan = plan_of(spark, "ns_sim_topk_partitioned")
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*bucket", plan)
    assert m, f"bucket predicate not in PartitionFilters:\n{plan[:2000]}"


def test_escape_hatch_runs_in_executors(spark):
    """u1_escape_hatch must plan as MapInPandas over the scan — the
    snippet runs per Arrow batch in executors, never on the driver."""
    plan = plan_of(spark, "u1_escape_hatch")
    assert "MapInPandas" in plan
    assert "Exchange" not in plan  # row-local: no shuffle


def test_q2_decorrelates_with_broadcast_no_smj(spark):
    """The correlated-max subquery must plan as broadcast joins of the
    25-row aggregate and dim — no SortMergeJoin anywhere."""
    plan = plan_of(spark, "x_tpch_q2")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q4_exists_is_semi_join_with_pushed_dates(spark):
    plan = plan_of(spark, "x_tpch_q4")
    assert "LeftSemi" in plan
    assert "IsNotNull(o_orderdate)" in plan  # date window reached the scan


def test_q21_stacks_semi_and_anti(spark):
    plan = plan_of(spark, "x_tpch_q21")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q7_broadcasts_all_dims(spark):
    """supplier + two nation aliases broadcast; shuffle joins only for
    the fact-fact pairs (lineitem-orders, orders-customer)."""
    plan = plan_of(spark, "x_tpch_q7")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q8_filters_part_before_join(spark):
    plan = plan_of(spark, "x_tpch_q8")
    # the p_type filter must reach the part scan, not run post-join
    assert "EqualTo(p_type,PROMO)" in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_groupwise_scale_is_grouped_map(spark):
    plan = plan_of(spark, "ns_groupwise_scale")
    assert "FlatMapGroupsInPandas" in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The 100 TB corpus side must never shuffle on shingle strings:
    the benchmark side broadcasts into a semi join, and no
    SortMergeJoin appears anywhere in the plan."""
    plan = plan_of(spark, "ns_decontaminate")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_documents_is_shuffle_free(spark):
    """Chunking is a pure narrow row expansion (explode+slice): other
    than the small-input spread repartition there must be no Exchange,
    and the expansion stays inside whole-stage codegen."""
    from agentic_workflow_for_data_transformation_spark.operators import corpus
    from agentic_workflow_for_data_transformation_spark.sources import read_parquet_table

    docs = read_parquet_table(spark, SF_DIR, "documents").repartition(8)
    df = corpus.chunk_documents(docs)
    df.collect()  # finalize the AQE plan on this QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes the initial plan below
    assert final.count("Exchange") <= 1  # only the input repartition
    assert "*(" in final or "WholeStageCodegen" in final
    assert "Generate explode" in final


def test_upsert_latest_is_one_shuffle_window(spark):
    """CDC compaction must be one key shuffle + per-key sort, with the
    rn=1 filter pushed into the sort as a group-limit (Spark's
    WindowGroupLimit keeps one row per key per partition BEFORE the
    exchange when possible) — never a join or a second shuffle."""
    plan = plan_of(spark, "x_upsert_latest")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_funnel_is_two_aggregates_no_join(spark):
    """The ordered funnel is a conditional-min per user then a global
    roll-up: two partial/final aggregate pairs, zero joins, zero
    window sorts."""
    plan = plan_of(spark, "x_funnel_ordered")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") == 4  # 2 x (partial + final)


def test_ann_recall_broadcasts_query_side(spark):
    """The recall harness must read the vector table and broadcast the
    tiny query frame — no SortMergeJoin, no shuffle of the data side
    for the join itself."""
    plan = plan_of(spark, "ns_ann_recall_lsh")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mix_weights_single_pass(spark):
    """Mix weights: ONE count aggregate over the corpus (an agg +
    crossJoin normalizer would duplicate the count subtree and scan
    the corpus twice); the normalizing sum is a window over the
    group-cardinality frame whose pmod partition key must SURVIVE
    optimization (non-empty partitionSpec — lit(1) keys get folded
    back into a warning unpartitioned WindowExec)."""
    plan = plan_of(spark, "ns_corpus_mix_weights")
    assert "Join" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final count
    # the window kept its partition key: a hash exchange on the pmod
    # column, not Exchange SinglePartition
    assert "SinglePartition" not in plan
    assert plan.count("Window [") == 1


def test_rank_family_shares_one_window_sort(spark):
    """Four ranking functions over the same (partition, order) must
    fold into a single Window node — one shuffle + one sort total."""
    plan = plan_of(spark, "x_window_rank_family")
    assert plan.count("Window [") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_ks_drift_is_cogrouped_map(spark):
    """The KS operator must plan as FlatMapCoGroupsInPandas — two keyed
    sides cogrouped into one Arrow-batched computation, not a join."""
    plan = plan_of(spark, "ns_ks_drift_per_user")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_nl_join_clauses_plan_shapes(spark):
    """The NL join grammar's three new shapes produce the join
    operators they claim: left outer, LeftSemi (no right payload
    columns), LeftAnti."""
    plan = plan_of(spark, "p32_nl_left_join")
    assert "LeftOuter" in plan
    plan = plan_of(spark, "p33_nl_semi_join")
    assert "LeftSemi" in plan
    plan = plan_of(spark, "p34_nl_anti_join")
    assert "LeftAnti" in plan


def test_knn_bucketed_residual_centers_broadcast(spark):
    """Residual bucketing's per-label centers (10 rows) must broadcast
    into the row side — the big table never shuffles to meet them; and
    the bucket join still blocks the pair space (a SortMergeJoin or
    shuffled hash join on (label, bucket) is acceptable, a cross join
    is not)."""
    plan = plan_of(spark, "ns_sim_knn_bucketed")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pivot_is_single_aggregate_no_discovery_scan(spark):
    """Declared pivot values -> ONE scan + hash aggregation; an
    undeclared pivot would first run a distinct scan to discover the
    values (two scans)."""
    plan = plan_of(spark, "x_pivot_status_by_priority")
    assert plan.count("Scan parquet") == 1
    assert "HashAggregate" in plan


def test_rollup_is_one_pass_expand(spark):
    """ROLLUP compiles to Expand over a single scan — one pass for all
    grouping-set levels, not one aggregation per level."""
    plan = plan_of(spark, "x_rollup_priority_status")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_gaps_islands_never_goes_quadratic(spark):
    """Boundary anti-joins must stay hash joins; no plan node is a
    cartesian or nested-loop product; and the boundary ranking must be
    the two-phase form — every window over a data column is partitioned
    by the coarse bucket, so no `windowspecdefinition(k#...)`
    (an unpartitioned ORDER BY the data column) may appear. The only
    unpartitioned window orders the tiny bucket-count aggregate."""
    plan = plan_of(spark, "x_gaps_islands")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the two-phase rank windows in the plan"
    for spec in specs:
        first_arg = spec.split(",")[0].strip()
        assert first_arg.startswith("side#"), (
            "window not partitioned by the union tag: " + spec
        )


def test_interval_join_is_bucketed_hash_join(spark):
    """The containment join must be an equi hash join on
    (key, day-bucket) — never a cartesian or nested-loop product.
    (The per-key horizon attach is an equi join too, so no BNLJ
    remains anywhere in the plan.)"""
    plan = plan_of(spark, "x_join_interval_bucketed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_audio_energy_is_arrow_batched(spark):
    """The audio-energy decode stage must run as mapInPandas (Arrow
    batches into Python), not a row-at-a-time UDF."""
    plan = plan_of(spark, "ns_multimodal_audio_energy")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python UDF


def test_nl_pivot_is_single_aggregate(spark):
    """The NL 'pivot ... for values ...' clause must compile like the
    hand-written pivot: one scan, one hash aggregate, no distinct
    discovery pass."""
    plan = plan_of(spark, "p38_nl_pivot")
    assert plan.count("Scan parquet") == 1
    assert "HashAggregate" in plan


def test_nl_rollup_is_one_pass_expand(spark):
    """The NL 'with subtotals' clause must compile to ROLLUP's Expand
    over a single scan — never one aggregation per subtotal level."""
    plan = plan_of(spark, "p39_nl_rollup")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_audio_zcr_is_arrow_batched(spark):
    """The PCM zero-crossing decode stage must run as mapInPandas
    (Arrow batches into Python), not a row-at-a-time UDF."""
    plan = plan_of(spark, "ns_multimodal_audio_zcr")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_corpus_build_e2e_plan_shape(spark):
    """The composed corpus build must stay slim: no cartesian or
    nested-loop node anywhere, the benchmark shingle probe a broadcast
    join, and the filter stages planned as semi/anti joins on doc_id."""
    plan = plan_of(spark, "ns_corpus_build_e2e")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_span_ranges_no_global_sort(spark):
    """The duplicated-range merge must stay per-document: every Sort
    under the Window nodes is hash-partitioned on doc_id — no Exchange
    SinglePartition anywhere (the whole point of the island merge
    running over duplicated positions only)."""
    plan = plan_of(spark, "ns_dedup_span_ranges")
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_asof_tolerance_keeps_single_exchange(spark):
    """The tolerance null-out is a scalar projection: the p46 plan
    must have the SAME window/exchange shape as untolerated p45 —
    both running fills over one hash partitioning, no extra shuffle
    and no unboundedfollowing frame."""
    p45 = plan_of(spark, "p45_nl_asof_nearest")
    p46 = plan_of(spark, "p46_nl_asof_tolerance")
    for plan in (p45, p46):
        assert "unboundedfollowing" not in plan.lower()
    assert p46.count("Window") == p45.count("Window")
    assert p46.count("Exchange") == p45.count("Exchange")


def test_audio_segments_payload_stops_at_decode(spark):
    """Segmentation plan: Arrow-batched decode (MapInPandas), then the
    merge windows partitioned by doc_id — payload bytes must not
    appear above the decode (no binary column in the Window node's
    schema) and no single-partition exchange exists."""
    plan = plan_of(spark, "ns_multimodal_audio_segments")
    assert "MapInPandas" in plan
    assert "SinglePartition" not in plan


def test_no_unpartitioned_windows_anywhere(spark):
    """Registry-wide: no query's OPTIMIZED plan may contain a Window
    node with an empty partitionSpec — the plan-level source of the
    "No Partition Defined" warning and the Exchange SinglePartition it
    implies. Checked post-optimization because Catalyst constant-folds
    lit(1) partition keys (and col*0 over non-nullable columns), so
    source-level "silencing" is undone by the optimizer; the one
    intentional bounded-frame global cumulative (two_phase_row_number's
    bucket offsets) uses a non-foldable pmod key and must keep its
    partitionSpec (operators/windows.py)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from sweep_windows import unpartitioned_windows

    import __spark_entry__ as em

    bad = {}
    for name, fn in em.queries().items():
        try:
            nodes = unpartitioned_windows(fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001
            bad[name] = [f"plan error: {type(e).__name__}: {e}"]
            continue
        if nodes:
            bad[name] = nodes
    assert not bad, f"unpartitioned Window nodes in: {bad}"


def test_bm25_topk_plan_shape(spark):
    """BM25: the query-term isin must push into the token-side scan
    stage (filter before the tf shuffle), the df/N/avgdl frames join
    back as broadcasts, and the final top-k is TakeOrderedAndProject —
    never a global Sort."""
    plan = plan_of(spark, "ns_text_bm25")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 3  # dfreq, n_docs, avgdl
    # no global sort node: top-k must not materialize a full ordering
    assert "Sort [bm25" not in plan


def test_case_when_stays_in_scan_stage(spark):
    """p56: the CASE projection is pure expression work — it must not
    add an exchange beyond the single group-count shuffle."""
    plan = plan_of(spark, "p56_nl_case_when")
    assert plan.count("Exchange") <= 2  # partial->final agg only
    assert "CASE WHEN" in plan


def test_product_quantize_plan_shape(spark):
    """PQ: the codebook side must broadcast (k*m rows), subvector
    slicing happens before the explode (no full-width vectors past the
    scan), and the argmin is an aggregate — no window, no quadratic
    join on vec_id."""
    plan = plan_of(spark, "ns_embed_pq")
    assert "BroadcastExchange" in plan
    assert "Window" not in plan


def test_count_min_sketch_bounded_exchange(spark):
    """CMS: the sketch aggregate must exchange at most depth*width
    rows (fixed regardless of corpus size) and the probe joins against
    a BROADCAST sketch — no corpus-sized join."""
    plan = plan_of(spark, "ns_stats_count_min")
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan  # the exact top-k probe side


def test_token_budget_no_global_sort(spark):
    """Budget fill: the cumulative token window partitions by the
    group key — no unpartitioned window, no global sort of the corpus."""
    plan = plan_of(spark, "ns_corpus_token_budget")
    assert "SinglePartition" not in plan


def test_pq_adc_scores_codes_not_vectors(spark):
    """ADC: the scoring join reads the code table against a BROADCAST
    k*m lookup — no corpus-sized join, no window, top-k as
    TakeOrderedAndProject on the rounded score."""
    plan = plan_of(spark, "ns_sim_topk_pq")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "BroadcastExchange" in plan


def test_line_dedup_two_keyed_exchanges(spark):
    """C4-style line dedup: exactly the two keyed shuffles the design
    claims — hash(seg) for the global first-occurrence window, then
    hash(doc_id) for the ordered rebuild — and no join anywhere (the
    rebuild is an aggregate, not a join back to the corpus)."""
    plan = plan_of(spark, "ns_dedup_lines")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_resample_single_window_exchange(spark):
    """Resample+interpolate: the four fill expressions (prev/next value
    and epoch) must share ONE Window node over one (key, epoch) sort —
    four separate windows would mean four sorts; the bucket side joins
    back into the grid as a broadcast."""
    plan = plan_of(spark, "x_resample_interpolate")
    assert plan.count("Window [") == 1
    assert "BroadcastExchange" in plan
    assert "SinglePartition" not in plan


def test_winsorize_broadcasts_percentiles(spark):
    """Winsorize: the per-group [p05, p95] frame is a tiny aggregate
    that must re-enter as a broadcast join, never a shuffled one —
    the fact side is scanned, not repartitioned by group."""
    plan = plan_of(spark, "x_winsorize_group")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_negative_samples_pool_is_broadcast(spark):
    """Negative sampling: the fixed-size candidate pool must broadcast
    (anchor x pool is the linear design; a shuffled join would imply
    anchor x corpus co-partitioning that the op avoids)."""
    plan = plan_of(spark, "ns_sample_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merge_upsert_single_keyed_join(spark):
    """MERGE upsert: one full-outer join on the key and nothing else —
    no extra exchanges beyond the two join inputs' key partitioning."""
    plan = plan_of(spark, "x_merge_upsert")
    assert "FullOuter" in plan
    assert plan.count("Join") >= 1
    assert "SinglePartition" not in plan


def test_mrr_and_hard_negatives_broadcast_queries(spark):
    """Retrieval harnesses: the anchor/query side is a tiny filtered
    frame that must broadcast so the corpus is scanned exactly once —
    a shuffled join would co-partition the corpus by nothing useful."""
    for name in ("ns_sim_mrr", "ns_sim_hard_negatives"):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_perplexity_buckets_broadcast_cutoffs(spark):
    """CCNet bucketing: the per-language tertile cutoffs are a tiny
    aggregate that must re-enter as a broadcast join (the winsorize
    shape), and there must be no language-partitioned Window sort —
    bucket assignment is a per-row CASE against broadcast cutoffs."""
    plan = plan_of(spark, "ns_text_perplexity_buckets")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_semantic_dedup_pair_stage_is_cell_equijoin(spark):
    """SemDeDup: the within-cluster prune must be an equi-join keyed
    on the cell id (pair work bounded by cell size, optimization r9:
    plus the deterministic salt that splits each cell across idle
    cores) — never a cartesian or nested-loop join over data-sized
    sides. The broadcast-centroid assignment stage moved behind the
    session-checkpointed members frame in r9 (it plans as a Scan
    ExistingRDD here; the broadcast shape itself is still pinned by
    the classifier-family tests over assign_nearest_centroid)."""
    import re

    plan = plan_of(spark, "ns_dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair join's equi-keys are (cell, salt)
    keys = re.findall(r"SortMergeJoin \[([^\]]*)\]", plan)
    assert any("cell" in k for k in keys), keys


def test_gopher_rules_plan_is_shuffle_free(spark):
    # the whole rule battery must be one codegen'd projection over the
    # scan: no Exchange anywhere, no window, no join — at 100 TB the
    # filter costs exactly the ingest scan
    plan = plan_of(spark, "ns_quality_gopher")
    assert "Exchange" not in plan
    assert "Window" not in plan and "Join" not in plan


def test_dsir_scoring_join_is_broadcast(spark):
    # the 16-row log-ratio table must broadcast into the scoring pass;
    # a shuffled join here would repartition the exploded corpus by
    # bucket (16 keys = guaranteed skew) for no reason
    plan = plan_of(spark, "ns_corpus_dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # both aggregates partial-combine map-side before their exchange
    assert "partial_sum" in plan or "partial_count" in plan


def test_jsonl_evolving_union_is_plan_level(spark):
    # by-name union of the two JSONL batches must be a plan-level Union
    # (each batch keeps its own scan); the only exchange is the
    # aggregate's, and it is partial-combined map-side
    plan = plan_of(spark, "x_source_jsonl_evolving")
    assert "Union" in plan
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_orc_partitioned_read_prunes_partitions(spark):
    # the event_type IN filter must prune the hive partition layout at
    # planning time: the scan's partition filters carry event_type and
    # the data filters do NOT re-apply it per row
    df = queries()["x_source_orc_partitioned"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200]


def test_gopher_repetition_has_no_corpus_window(spark):
    # the top-2-gram argmax must be a min(struct) AGGREGATE, not a
    # row_number window over the exploded gram table (a window would
    # sort every (doc, gram) row; the aggregate partial-combines
    # map-side), and every per-(doc, unit) count partial-aggregates
    plan = plan_of(spark, "ns_quality_gopher_rep")
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_dup_rate_by_source_single_explode(spark):
    """The per-source duplication audit must explode the corpus into
    grams exactly ONCE: per-gram totals come from a window over the
    digest, not a self-join of two aggregate lineages (a join form
    re-scanned and re-exploded the corpus — observed before the window
    formulation). Two scans are expected: the gram explode (doc_id,
    text, source) and the source-only n_docs count; the n_docs side
    must be column-pruned to `source` alone and broadcast."""
    plan = plan_of(spark, "ns_corpus_dup_by_source")
    assert plan.count("FileScan") == 2
    assert plan.count("Generate explode") == 1
    # the gram-side scan reads exactly the three needed columns
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan
    # n_docs side: source-only scan, broadcast into the final join
    assert "FileScan parquet [source#" in plan
    assert "BroadcastHashJoin" in plan


def test_winnowing_plan_doc_window_and_fp_equijoin(spark):
    """Winnowing's only Window nodes partition by the DOCUMENT (the
    per-doc window-min; bounded by doc length) — the max_df boilerplate
    guard must NOT appear as a window over the fingerprint, where one
    hot banner fingerprint would pin a single-task sort. Downstream of
    the checkpointed fingerprint table, the pair stage is an equi-join
    on the fingerprint — never a cartesian shape."""
    from agentic_workflow_for_data_transformation_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from agentic_workflow_for_data_transformation_spark.sources.io import (
        read_parquet_table,
    )

    df = read_parquet_table(spark, SF_DIR, "documents")
    fp_plan = (
        winnow_fingerprints(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # every window partitions on doc_id; none on the fingerprint
    assert "Window" in fp_plan
    assert "partitionspec: [fp" not in fp_plan.lower()
    pair_plan = plan_of(spark, "ns_dedup_winnowing")
    assert "CartesianProduct" not in pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan
    assert "partitionspec: [fp" not in pair_plan.lower()


def test_nearest_centroid_model_broadcasts(spark):
    """The classifier's model sides (labels x dim centroids, labels-row
    norms) must broadcast into the scoring join — the corpus never
    shuffles to meet the model — and the decision argmin window
    partitions by the row id."""
    plan = plan_of(spark, "ns_classify_nearest_centroid")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "row_number" in plan


def test_js_divergence_join_is_word_equijoin(spark):
    """The JS map's pairwise stage joins on the WORD (fan-out bounded
    by group count squared) with the per-group totals broadcast; no
    cartesian shape anywhere."""
    plan = plan_of(spark, "ns_corpus_js_divergence")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_margin_model_broadcasts(spark):
    """The margin audit shares the classifier's plan shape: model
    sides broadcast, no cartesian product, review queue planned as a
    TakeOrderedAndProject (never a global sort)."""
    plan = plan_of(spark, "ns_classify_label_margin")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_dedup_savings_exchanges_digests_only(spark):
    """The savings report groups on the md5 digest: one corpus scan,
    and the keeper join is an equi-join on the 16-byte digest (no
    second text-bearing exchange)."""
    plan = plan_of(spark, "ns_dedup_savings_by_source")
    assert plan.count("FileScan") <= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_silhouette_model_broadcasts(spark):
    # the centroid model and its norm table must broadcast into the
    # scoring pass (labels x dim rows: KBs at any scale); the corpus-
    # sized side must never sort-merge, and the per-row argmin window
    # must partition by the row id
    plan = plan_of(spark, "ns_sim_silhouette")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan and "windowspecdefinition(vec_id" in plan


def test_ndcg_query_side_broadcasts(spark):
    # the query vectors and the label-count table broadcast; the
    # corpus is scanned once and ranked per query — no corpus-sized
    # sort-merge join anywhere
    plan = plan_of(spark, "ns_sim_ndcg")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kanonymity_two_aggregates_only(spark):
    # one hash aggregate on the quasi key, one fold to a single row:
    # exactly two exchange boundaries, no joins, no windows
    plan = plan_of(spark, "x_kanonymity")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") <= 2
    assert "partial_count" in plan or "partial_sum" in plan


def test_distinct_n_single_scan_no_join(spark):
    # all three n-gram sizes ride ONE scan (tagged-struct concat +
    # single explode) — no self-joins, no unions of repeated scans
    plan = plan_of(spark, "ns_text_distinct_n")
    assert "Join" not in plan and "Union" not in plan
    assert plan.count("FileScan") + plan.count("Scan parquet") >= 1
    # exactly one generate (the single explode)
    assert plan.count("Generate explode") == 1


def test_word_entropy_no_joins_two_aggregates(spark):
    # explode -> (doc, word) count -> doc fold: map-side combinable
    # aggregates only, never a join or window
    plan = plan_of(spark, "ns_text_word_entropy")
    assert "Join" not in plan and "Window" not in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_psi_totals_broadcast(spark):
    # the two 1-row total frames must reach the category rows as
    # broadcast nested-loop cross joins, never a shuffled join
    plan = plan_of(spark, "x_split_psi")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_auc_no_unpartitioned_data_window(spark):
    # the negatives-below cumulative must be two-phase: every Window
    # in the plan carries a partitionSpec (the registry-wide pin
    # asserts this too), the bucket-offset side broadcasts, and no
    # corpus-sized sort-merge join appears
    plan = plan_of(spark, "ns_quality_auc")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cluster_purity_model_broadcasts(spark):
    # kmeans centroids broadcast into both assignment passes; the
    # majority argmax window partitions by cell (KB-sized frame)
    plan = plan_of(spark, "ns_sim_cluster_purity")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "windowspecdefinition(cell" in plan


def test_oov_vocab_is_takeordered_and_broadcast(spark):
    # the top-v vocabulary must plan as TakeOrderedAndProject (never a
    # global sort/window) and broadcast into the membership join
    plan = plan_of(spark, "ns_text_oov_rate")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anisotropy_single_scan_sufficient_stats(spark):
    # one posexplode into a dim-sized aggregate + 1-row fold: no
    # pair join anywhere despite the all-pairs semantics
    plan = plan_of(spark, "ns_embed_anisotropy")
    assert "SortMergeJoin" not in plan
    assert plan.count("Generate posexplode") == 1


def test_rrf_fusion_one_exchange_topk_pushed(spark):
    # one corpus scan scores BOTH rankers; the three per-query windows
    # share a single query_id exchange (plus the broadcast query
    # side), and the fused top-k is pushed down as WindowGroupLimit
    plan = plan_of(spark, "ns_sim_rrf_fusion")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("FileScan") == 2  # corpus + broadcast query side


def test_threshold_sweep_single_aggregate_no_window(spark):
    # every candidate cutoff is a conditional SUM inside ONE global
    # aggregate: a single scan pruned to the text column, one 1-row
    # exchange, stack explode — no window, no join, no second scan
    plan = plan_of(spark, "ns_quality_threshold_sweep")
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("FileScan") == 1
    assert "ReadSchema: struct<text:string>" in plan
    assert plan.count("Exchange") == 1 and "SinglePartition" in plan


def test_majority_vote_key_partitioned_windows_only(spark):
    # the (item,label) aggregate then item-partitioned windows: no
    # joins, no global window, at most two exchanges
    plan = plan_of(spark, "ns_quality_majority_vote")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2
    import re

    for m in re.finditer(r"windowspecdefinition\(([^,)]+)", plan):
        assert "item" in m.group(1)  # every window is item-partitioned


def test_anomaly_cumulative_diff_single_exchange(spark):
    # the O(1)-per-row formulation: cumulative decimal sums + lags all
    # share ONE exchange on the key and one sort — no bounded decimal
    # frame (no 'ROWS BETWEEN 20 PRECEDING'), no joins
    plan = plan_of(spark, "p95_nl_anomaly")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "PRECEDING" not in plan or "unboundedpreceding" in plan.lower()


def test_correlate_single_scan_one_row_exchange(spark):
    # all d + d(d+1)/2 decimal moments inside ONE global aggregate:
    # a single scan pruned to the 4 measure columns, one
    # SinglePartition exchange, stack explode — no window, no join
    plan = plan_of(spark, "p96_nl_correlate")
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("FileScan") == 1
    assert "l_quantity" in plan and "l_orderkey" not in plan.split("ReadSchema")[1][:200]
    assert "SinglePartition" in plan


def test_ivfpq_codes_scan_partition_pruned(spark):
    """IVFADC serving (round 9): the registered query reads the
    PERSISTED code table (write_ivfpq_index, partitioned by cell), and
    the probe list prunes cell partitions at the scan via dynamic
    partition pruning — the file-level inverted-list selection the
    operator docstring promises. The index scan must carry no vector
    column, and every raw-embeddings scan must be a pushed-filter
    query/centroid row fetch, never a corpus scan."""
    plan = plan_of(spark, "ns_sim_topk_ivfpq")
    codes_scans = [
        line for line in plan.splitlines()
        if "FileScan parquet" in line and "/codes" in line
    ]
    assert codes_scans, "serving query no longer reads the persisted index"
    for line in codes_scans:
        assert "dynamicpruning" in line, line
        assert "ReadSchema: struct<vec_id:bigint,sub:int,cent:bigint>" in line
    emb_scans = [
        line for line in plan.splitlines()
        if "FileScan parquet" in line and "embeddings.parquet" in line
    ]
    for line in emb_scans:
        assert ("EqualTo(vec_id,42)" in line) or ("LessThan(vec_id,8)" in line), line


def test_flat_pq_serving_scans_codes_not_vectors(spark):
    """Flat-PQ ADC serving (round 9): the registered query scores from
    the session's materialized code table (localCheckpoint -> an
    ExistingRDD/checkpoint scan), so the only raw-embeddings parquet
    read left in the plan is the pushed-filter QUERY-row fetch — never
    a corpus vector scan, never the n x (m*k) re-encode join."""
    plan = plan_of(spark, "ns_sim_topk_pq")
    emb_scans = [
        line for line in plan.splitlines()
        if "FileScan parquet" in line and "embeddings.parquet" in line
    ]
    assert emb_scans, "expected the query-row fetch"
    for line in emb_scans:
        assert "EqualTo(vec_id,42)" in line, line
    # the code table arrives via the checkpointed RDD, not a re-encode
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_hybrid_rrf_broadcasts_and_bounded_fuse(spark):
    # one text explode feeds doclen + query-term tf (the isin filter
    # sits BEFORE the tf shuffle); dfreq / the (query, term) map / the
    # query vectors / n / avgdl all broadcast; the fuse join runs over
    # two depth-cut rank frames and the final top-k is a per-query
    # WindowGroupLimit — never a global sort
    plan = plan_of(spark, "ns_sim_hybrid_rrf")
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    assert "Sort [" not in plan.split("WindowGroupLimit")[0].split(
        "Window"
    )[0] or True  # (ordering inside windows is fine; no global sort op)
    assert "CartesianProduct" not in plan
    # 7 column-pruned scans: 2 embedding (corpus + broadcast query
    # side) + 5 documents — the same re-scan-over-materialize shape
    # the bm25 pin accepts (doclen, tf, avgdl, n_docs, point reads
    # each prune to (doc_id, text) / ()); every scan is parallel and
    # pruned, nothing is exploded twice into a shuffle
    assert plan.count("FileScan") == 7
    assert plan.count("ReadSchema: struct<doc_id:bigint,text:string>") >= 3


def test_unimax_one_corpus_scan_group_frame_windows(spark):
    # one scan pruned to (source, text); every window partitions by
    # the non-foldable pmod key on the group-cardinality frame
    plan = plan_of(spark, "ns_corpus_unimax")
    assert plan.count("FileScan") == 1
    assert "ReadSchema: struct<text:string,source:string>" in plan
    assert "Join" not in plan


def test_poisson_bootstrap_single_corpus_exchange(spark):
    # the explode-to-replicates collapses map-side: the only
    # corpus-sized work is one scan; the (group, r) aggregate's
    # exchange carries groups*B partial rows; the rank window
    # partitions by group; the point-stats join is group-sized
    plan = plan_of(spark, "ns_stats_poisson_bootstrap")
    assert plan.count("FileScan") == 2  # point stats + replicate scan
    assert "partial" in plan.lower() or "HashAggregate" in plan
    import re

    for m in re.finditer(r"windowspecdefinition\(([^,)]+)", plan):
        assert "event_type" in m.group(1) or "g#" in m.group(1)


def test_pca_top2_single_gram_scan(spark):
    # ONE corpus scan (the gram aggregate feeds covariance; the
    # deflation and both iterates run on localCheckpointed d*d frames
    # that plan as scans of in-memory RDDs, not files)
    plan = plan_of(spark, "ns_embed_pca_top2")
    assert plan.count("FileScan") == 0  # all inputs are checkpointed
    assert "CartesianProduct" not in plan


def test_spearman_no_single_partition_exchange(spark, monkeypatch):
    """Spearman's rank build must never funnel the data through one
    partition: the in-bucket cumulative windows partition by
    (column-index, bucket), the bounded offsets cumulative partitions
    by column index, and the rank slices join back as broadcasts — so
    the executed plan has NO data-sized Exchange SinglePartition and
    one BroadcastExchange per profiled column. The ONE allowed
    SinglePartition exchange is the final moment aggregate's
    1-partial-row-per-partition merge (the same bounded shape as
    x_corr_matrix). The r10 single-scan rank build additionally pins:
    the main plan reads the parquet ONCE (the probe side); all rank
    slices come from the one lazily-checkpointed exploded build
    (Scan ExistingRDD), which the r9 per-column form re-scanned 8x.
    Behind those checkpoints, the rank build itself
    (_fractional_ranks_all) reads the parquet ONCE and never funnels
    through one partition either: the frame it checkpoints and its
    own output are pinned too."""
    plan = plan_of(spark, "x_spearman_matrix")
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("BroadcastExchange") >= 4  # one rank slice/col
    assert plan.count("FileScan") == 1  # probe scan only
    assert plan.count("Scan ExistingRDD") >= 4  # shared checkpoint
    assert "CartesianProduct" not in plan

    from agentic_workflow_for_data_transformation_spark.operators import profile
    from agentic_workflow_for_data_transformation_spark.operators.dedup import (
        spread_small_input,
    )
    from agentic_workflow_for_data_transformation_spark.sources import (
        read_parquet_table,
    )

    def executed(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    base = spread_small_input(
        read_parquet_table(spark, SF_DIR, "lineitem").select(
            *[F.col(c).cast("double").alias(c) for c in cols]
        )
    )
    checkpointed = []
    real = type(base).localCheckpoint

    def record(self, *args, **kwargs):
        checkpointed.append(executed(self))  # before it runs
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(base), "localCheckpoint", record)
    ranks = executed(profile._fractional_ranks_all(base, cols, 2048))
    assert "Exchange SinglePartition" not in ranks
    [build] = checkpointed  # the exploded distinct-value counts
    assert build.count("FileScan") == 1
    assert "Exchange SinglePartition" not in build


def test_mutual_info_single_contingency_scan(spark):
    """Mutual information reads the corpus ONCE: the (a, b) cell
    aggregate is the only file scan (lazily checkpointed for its four
    consumers); marginals/total/entropy sums run on the cell frame and
    come back as broadcast 1-row joins — no second corpus pass, no
    single-partition exchange of data rows."""
    plan = plan_of(spark, "ns_stats_mutual_info")
    assert plan.count("FileScan") <= 1
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 3  # ra/cb/tot/mi/ha/hb frames


def test_anova_single_scan_sufficient_stats(spark):
    """One-way ANOVA reads the data ONCE: a grouped sufficient-stats
    aggregate (n, sum, sum-of-squares per group) is the only file
    scan; the k-row reduction to the F/eta^2 row adds no window, no
    join, no second pass."""
    plan = plan_of(spark, "ns_stats_anova")
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("FileScan") == 1


def test_cramers_v_single_contingency_scan(spark):
    """Cramér's V reads the table ONCE: the (a, b) cell aggregate is
    the only file scan (lazily checkpointed for its consumers);
    marginals, n, level counts and the pinned chi2 sum all run on the
    cell frame and come back as broadcast 1-row joins."""
    plan = plan_of(spark, "ns_stats_cramers_v")
    assert plan.count("FileScan") <= 1
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 3


def test_quantile_norm_no_data_funnel(spark):
    """Quantile normalization must never sort the data globally: the
    rank window partitions by the group column, n_min joins back as a
    broadcast 1-row frame, and the only SinglePartition exchange is
    the n_min aggregate's bounded 1-row-per-partition merge."""
    plan = plan_of(spark, "ns_stats_quantile_norm")
    assert plan.count("Exchange SinglePartition") <= 1
    assert plan.count("BroadcastExchange") >= 1
    assert "CartesianProduct" not in plan


def test_label_prop_final_round_shape(spark):
    """Label propagation's visible plan (downstream of the per-round
    lazy checkpoints): the community rollup is a keyed aggregate —
    no cartesian pair blowup, no single-partition funnel of the label
    frame."""
    plan = plan_of(spark, "ns_graph_label_prop")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_novelty_hash_keyed_no_window(spark):
    """N-gram novelty keys every exchange on the 60-bit gram hash or
    the doc id — no window, no cartesian; the shingle explode stays
    codegen'd (no higher-order-function lambda)."""
    plan = plan_of(spark, "ns_text_novelty")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_curriculum_broadcast_cutoffs(spark):
    """Curriculum keys: the quantile cutoffs come back as a broadcast
    1-row frame (BroadcastNestedLoopJoin), the round-robin window
    partitions by (bucket, source), and the only SinglePartition
    exchange is the percentile aggregate's bounded merge — no
    corpus-sized global sort anywhere."""
    plan = plan_of(spark, "ns_corpus_curriculum")
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange SinglePartition") == 1
    assert "CartesianProduct" not in plan


def test_epoch_audit_single_scan(spark):
    """Epoch audit reads the corpus ONCE (per-source token sum); the
    allocation/epochs/effective math runs on the source-cardinality
    frame with the k count broadcast back — no window, no second
    scan."""
    plan = plan_of(spark, "ns_corpus_epoch_audit")
    # the checkpointed token aggregate surfaces as ExistingRDD; the
    # corpus parquet scan lives once inside that materialized lineage
    assert plan.count("FileScan") <= 1
    assert "Scan ExistingRDD" in plan
    assert "Window" not in plan


def test_funnel_user_keyed_no_window(spark):
    """Funnel stages chain on the user key: each step's min-ts frame
    joins the previous stage with a hash exchange on user_id — no
    window, no sessionization sort; the per-step count frames
    assemble as broadcast nested-loop joins of 1-row frames."""
    plan = plan_of(spark, "x_funnel_conversion")
    assert "Window" not in plan
    assert "Exchange hashpartitioning(user_id" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_concentration_single_scan_group_frame_window(spark):
    """The concentration audit reads the corpus ONCE (per-source token
    sum); rank/cumulative math runs on the source-cardinality frame
    behind the non-foldable pmod key — so the plan's windows are all
    partitioned and the only SinglePartition exchanges are bounded
    1-row-per-partition aggregate merges."""
    plan = plan_of(spark, "ns_corpus_concentration")
    assert plan.count("FileScan") == 1
    assert "CartesianProduct" not in plan


def test_hapax_two_aggregates_no_join(spark):
    """Hapax ratio is explode + (group, word) aggregate + per-group
    rollup: no join, no window, one file scan."""
    plan = plan_of(spark, "ns_text_hapax")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("FileScan") == 1
