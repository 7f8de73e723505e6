"""Physical-plan regression tests: the scale-critical plan properties.

Correctness says what a query returns; these pin HOW it executes — the
properties that decide whether the same plan survives 100 TB:

- filters reach the parquet scan (PushedFilters), so selective queries
  read row-groups, not the table;
- projections prune the scan schema (ReadSchema), so a 2-column query
  never reads 16 columns;
- small-dimension joins broadcast (BroadcastHashJoin), so the fact side
  never shuffles for a lookup join;
- semi/anti semantics use semi/anti joins (no materialized distinct);
- aggregates partial-aggregate map-side (two HashAggregate phases), so
  a groupBy shuffles one row per (key, partition), not the input.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushes_filter_to_scan(spark):
    plan = _plan(spark, "s2_point_lookup")
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey" in plan


def test_projection_prunes_scan_schema(spark):
    plan = _plan(spark, "s1_prefix_scan")
    # two-column query must read a two-column schema
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string>" in plan


def test_small_dim_join_broadcasts(spark):
    plan = _plan(spark, "j3_broadcast_lookup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_and_anti_joins_stay_semi_anti(spark):
    assert "LeftSemi" in _plan(spark, "j1_semi_join_exists")
    assert "LeftAnti" in _plan(spark, "j2_anti_join_not_exists")


def test_aggregate_partially_aggregates_map_side(spark):
    plan = _plan(spark, "a5_status_rollup")
    # partial + final HashAggregate phases around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "o2_topk")
    assert "TakeOrderedAndProject" in plan


def test_lang_id_is_single_projection_pass(spark):
    # the per-row rewrite must not reintroduce explode/join/window
    plan = _plan(spark, "x_text_lang_id")
    for op in ("Generate", "Join", "Window"):
        assert op not in plan, f"unexpected {op} in lang-id plan"


def test_minhash_band_join_not_cartesian(spark):
    plan = _plan(spark, "x_dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["x_sim_ann_lsh", "x_sim_ivf"])
def test_similarity_probes_are_partition_local_blas(spark, name):
    # query matrix + quantizer ship in the task closure; per-partition
    # BLAS probe with local top-k prune — the only shuffle is the
    # k·q-rows-per-partition winner merge, never an N-row score space
    plan = _plan(spark, name)
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_bruteforce_topk_is_partition_local_blas(spark):
    # queries ship in the task closure; per-partition BLAS + local top-k
    # prune, so the only shuffle is the k·q-rows-per-partition merge
    plan = _plan(spark, "x_sim_topk_bruteforce")
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_range_join_broadcasts_band_dim(spark):
    plan = _plan(spark, "x_range_join")
    assert "BroadcastNestedLoopJoin" in plan  # tiny dim side broadcast


def test_skew_salted_agg_is_two_phase(spark):
    plan = _plan(spark, "x_skew_salted_agg")
    assert plan.count("HashAggregate") >= 3  # partial+final × two phases


def test_asof_join_is_union_window_not_join(spark):
    plan = _plan(spark, "x_asof_join")
    assert "Union" in plan and "Window" in plan
    assert "Join" not in plan  # no correlated probe join


def test_tfidf_vocab_and_corpus_size_broadcast(spark):
    plan = _plan(spark, "x_text_tfidf")
    # df (vocab-sized) and the 1-row corpus count both broadcast: the
    # (doc,term) side shuffles once for its partial agg and never again
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_one_doc_keyed_exchange_serves_agg_and_window(spark):
    # r11: the scan rebalance hashes on doc_id, so the (doc_id, term)
    # aggregate AND the rank window reuse that one exchange instead of
    # inserting their own (sf0.1 interleaved medians 1.26 s -> 0.71 s).
    # Doc-keyed exchanges in the plan: exactly one (the scan rebalance);
    # the only other exchanges are the vocab-sized term partials and the
    # 1-row count — never a second doc-keyed shuffle of tf-sized data.
    plan = _plan(spark, "x_text_tfidf")
    import re

    doc_keyed = re.findall(r"hashpartitioning\(doc_id[^)]*\)", plan)
    assert len(doc_keyed) >= 1
    assert "RoundRobinPartitioning" not in plan
    # the rank filter precedes the broadcast joins: WindowGroupLimit
    # sits below the BroadcastHashJoin (plans print root-first, so the
    # upstream window-limit appears AFTER the join in the string)
    assert plan.index("BroadcastHashJoin") < plan.index("WindowGroupLimit")


def test_bm25_doc_keyed_rebalance_no_extra_doc_shuffle(spark):
    # r11: same lever as tfidf — the posting-list aggregate, the dl
    # join and the per-doc score rollup all sit on the scan's
    # hash(doc_id) exchange (sf0.1 interleaved medians 1.42 s -> 0.91 s)
    plan = _plan(spark, "x_text_bm25")
    assert "RoundRobinPartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_bigram_lm_context_counts_broadcast(spark):
    plan = _plan(spark, "x_text_bigram_lm")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_emb_quantize_is_zero_shuffle_scan_project(spark):
    plan = _plan(spark, "x_emb_quantize")
    # per-row expressions only: the single TakeOrdered collect is the
    # only thing after the scan — no Exchange anywhere
    assert "Exchange" not in plan


def test_pii_redact_is_single_pass_and_prunes_schema(spark):
    plan = _plan(spark, "x_text_pii_redact")
    assert "Exchange" not in plan
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string>" in plan


def test_pq_adc_scan_is_partition_local(spark):
    # PQ codes + ADC lookup tables live in the task closure; the only
    # shuffle is the partition-local top-k winner merge
    plan = _plan(spark, "x_sim_pq_adc")
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_topk_hash_sample_is_take_ordered(spark):
    plan = _plan(spark, "x_sample_topk_hash")
    assert "TakeOrderedAndProject" in plan  # never a global Sort+Exchange


def test_training_set_compose_is_single_plan(spark):
    # quality filter reaches the scan; decontamination side is a
    # broadcast anti-join, not a shuffled one
    plan = _plan(spark, "x_pipeline_training_set")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ivfpq_scan_is_partition_local(spark):
    # coarse quantizer + codebook + per-query ADC LUTs all live in the
    # task closure; the only shuffle is the local-top-k winner merge
    plan = _plan(spark, "x_sim_ivfpq")
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_geo_knn_point_side_never_shuffles(spark):
    # the query ring broadcasts (non-equi cell-range join); the point
    # table reads, projects and joins without any Exchange before the
    # top-k winner merge window
    plan = _plan(spark, "x_geo_knn")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_attribution_is_one_window_no_join(spark):
    # last-touch = running MAX-over-CASE window; a correlated per-purchase
    # lookup join must never appear
    plan = _plan(spark, "x_win_attribution")
    assert "Window" in plan
    assert "Join" not in plan


def test_retention_single_user_shuffle_carries_state(spark):
    # per-user state collapses in ONE user_id aggregation (collect_set is
    # objhash-aggregated with map-side partials); no self-join of events
    plan = _plan(spark, "x_events_retention")
    assert "Join" not in plan


def test_profile_multi_distinct_uses_expand(spark):
    # three exact COUNT(DISTINCT)s must compile to one Expand-based
    # aggregate (single shuffled pass), not one aggregation per column
    plan = _plan(spark, "x_stats_profile")
    assert "Expand" in plan
    assert plan.count("Exchange") <= 2


def test_funnel_signup_dim_broadcasts(spark):
    plan = _plan(spark, "x_events_funnel")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_c4_lines_is_zero_shuffle_scan_project(spark):
    # line synthesis + rules are per-row higher-order expressions; no
    # explode, no aggregation, no join — the single Exchange is the
    # presentation orderBy (rangepartitioning), not a compute shuffle
    plan = _plan(spark, "x_text_c4_lines")
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan
    for op in ("Generate", "Join", "HashAggregate"):
        assert op not in plan, f"unexpected {op} in c4-lines plan"


def test_substring_dedup_groups_never_pairs(spark):
    # anchor extraction is an Arrow pass; duplicates are found by a
    # substring-key groupBy (bucketed shuffle), never a pairwise join
    plan = _plan(spark, "x_dedup_substring")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partials


def test_q3_shape_pushes_filters_and_takes_topk(spark):
    plan = _plan(spark, "j7_topk_revenue")
    # all three filters reach their scans; top-10 is a TakeOrdered merge
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "TakeOrderedAndProject" in plan


def test_q18_post_having_side_broadcasts(spark):
    plan = _plan(spark, "j8_large_orders")
    assert "BroadcastHashJoin" in plan


def test_ngram_verify_is_join_based_no_python(spark):
    # the exact verify must be array_intersect joins (broadcast at this
    # scale), with the only Python stage the shingle generator
    for name in ("x_dedup_ngram_jaccard", "x_dedup_containment"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan
        assert "array_intersect" in plan


def test_incremental_dedup_batch_side_broadcasts(spark):
    # the small batch verdict tables broadcast; the band-bucket probe is
    # an equi semi-join, never a cartesian shape
    plan = _plan(spark, "x_dedup_incremental")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_single_shard_window(spark):
    # packing = ONE window over the shard key; the rollup must reuse the
    # shard partitioning (no extra hash exchange beyond window + sort)
    plan = _plan(spark, "x_pipeline_pack_sequences")
    assert "Window" in plan
    assert "Join" not in plan


def test_winsorize_percentile_dim_broadcasts(spark):
    # the per-group p05/p95 dimension is group-count-sized and must
    # broadcast back onto the fact side — the fact stream shuffles only
    # for its own aggregations, never for the percentile join
    plan = _plan(spark, "x_stats_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_rules_zero_shuffle(spark):
    # Two exchanges, both deliberate: the round-robin scan rebalance
    # (single-row-group fixtures serialize the interpreted stop-word
    # lambda onto one task — sf1 interleaved medians: 1.86 s rebalanced
    # vs 3.48 s plain, a 1.87x win) and the presentation orderBy. Still
    # no aggregation/join/explode — it remains a scan-projection.
    plan = _plan(spark, "x_text_gopher_rules")
    assert plan.count("Exchange") == 2 and "rangepartitioning" in plan
    assert "RoundRobinPartitioning" in plan or "roundrobin" in plan.lower()
    for op in ("Generate", "Join", "HashAggregate"):
        assert op not in plan, f"unexpected {op} in gopher plan"


def test_q22_scalar_threshold_and_anti_join(spark):
    plan = _plan(spark, "j9_above_avg_anti")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row average broadcast
    assert "LeftAnti" in plan


def test_semantic_dedup_single_cluster_shuffle(spark):
    # candidate limiting = kmeans clusters; the pair pass must be one
    # cluster-keyed FlatMapGroupsInPandas, never a pairwise join
    plan = _plan(spark, "x_dedup_semantic")
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_join_dispatch_and_plan_shapes(spark, monkeypatch):
    # The fuzzy join picks its candidate strategy from a cost sensor
    # (sum of squared bucket sizes). On the constant-prefix fixture the
    # PassJoin segment buckets collapse (segments 0-1 identical for
    # every name), so the sensor MUST route to the salted block DP —
    # and on a dispersed corpus it must route to the segment equi-join.
    # Both plans stay cartesian-free with the threshold-bounded
    # 3-arg levenshtein (banded O(d*n) DP with early exit).
    df = entry_mod.queries()["x_text_fuzzy_join"](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan and "2)" in plan  # threshold-bounded DP
    # fixture routes to block DP: the salt g participates in the join
    join_block = plan[plan.rindex("HashJoin") :]
    cond = join_block[: join_block.index("\n\n")]
    assert "g#" in cond  # salted sub-block equi-key
    assert "c_custkey" in cond and "<" in cond  # pair-ordering band

    # dispersed synthetic names route to PassJoin: segment equi-join
    # (force the full sensor — tiny corpora early-exit to block_dp)
    from geostore_spark.operators import text
    from geostore_spark.operators.text import fuzzy_edit_join

    monkeypatch.setattr(text, "FUZZY_BLOCK_DP_OK", -1)
    disp = spark.createDataFrame(
        [(i, f"{i * 2654435761 % 10**9:09d}xyz{i}", i % 3) for i in range(200)],
        "c_custkey long, c_name string, c_nationkey long",
    )
    df2 = fuzzy_edit_join(disp)
    plan2 = df2._sc._jvm.PythonSQLUtils.explainString(
        df2._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan2
    assert "BroadcastNestedLoopJoin" not in plan2
    # the segment text and index are equi-keys of the candidate join
    assert "seg" in plan2 and "sub" in plan2
    assert "levenshtein" in plan2


@pytest.mark.parametrize("name", ["x_stats_gini", "x_win_ntile_quartiles"])
def test_low_cardinality_rank_is_two_phase(spark, name, monkeypatch):
    # ROW_NUMBER over a 5-ish-key partition is a 5-task ceiling with
    # whole-key state per task; ABOVE the measured local-window
    # threshold the two-phase form ranks inside (range-slice, key)
    # windows — every Window node's partition spec must include the
    # range-slice id, never the bare low-cardinality key. (At the test
    # SF the dispatch picks the plain window — the measured-optimal
    # small-input plan — so force the scale tier here.)
    import geostore_spark.operators.util as util

    monkeypatch.setattr(util, "RANK_LOCAL_THRESHOLD", -1)
    plan = _plan(spark, name)
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower() and "row_number" in line.lower():
            assert "_pid" in line, f"global low-cardinality window in {name}: {line[:200]}"


@pytest.mark.parametrize("name", ["x_stats_gini", "x_win_ntile_quartiles"])
def test_low_cardinality_rank_small_tier_is_plain_window(spark, name):
    # below the threshold the dispatch must pick the plain window (no
    # range machinery): measured 0.95 vs 1.32 s at 150 k rows — the
    # two-phase floors are pure overhead in the small regime
    plan = _plan(spark, name)
    assert "Window" in plan
    assert "_pid" not in plan


def test_ks_prefix_sums_are_two_phase(spark):
    # the running CDF must never be one global unpartitioned window over
    # the data: every windowed cumsum either includes the range-slice id
    # or runs over the slice-count-sized offset table
    plan = _plan(spark, "x_stats_ks_test")
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower() and "value" in line.lower():
            assert "_pid" in line, f"global window over data: {line[:200]}"


def test_triangles_all_joins_are_equi(spark, monkeypatch):
    # at fixture size the dispatch picks the Arrow CSR kernel: the final
    # plan is a mapInPandas stage over shard ids plus a 1-row aggregate —
    # no wedge join, no cartesian anywhere
    plan = _plan(spark, "x_graph_triangles")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    # past the kernel budget the data joins must stay equi-joins on node
    # keys (a nested-loop wedge join would mean all-pairs degeneration);
    # the only non-equi shapes allowed are the Cross joins assembling the
    # three 1-row scalar aggregates into the result row
    from geostore_spark.operators import graph
    from geostore_spark.operators.graph import triangle_counts_from_edges

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "u long, v long"
    ).localCheckpoint()
    monkeypatch.setattr(graph, "TRIANGLE_KERNEL_MAX_EDGES", 0)
    join_plan = (
        triangle_counts_from_edges(edges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in join_plan
    for line in join_plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, f"non-scalar nested loop: {line[:160]}"
    # the wedge join itself must be an equi-join on the oriented source
    assert any(
        ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln)
        and "src" in ln
        for ln in join_plan.splitlines()
    )


def test_triangles_dispatch_on_edge_budget(spark, monkeypatch):
    # at or under TRIANGLE_KERNEL_MAX_EDGES the whole wedge+closure runs
    # as the Arrow CSR kernel (mapInPandas, no joins at all); between
    # that and TRIANGLE_BROADCAST_MAX_EDGES the joins fuse as
    # BroadcastHashJoins (shuffle-free counting stage); above the budget
    # the |E| broadcast would OOM at 100x, so the plan must fall back to
    # co-partitioned shuffle joins — each tier forced with zero budgets
    from geostore_spark.operators import graph
    from geostore_spark.operators.graph import triangle_counts_from_edges

    edges = spark.createDataFrame(
        # 4-clique on 1..4 (4 triangles... K4 has 4) plus a pendant edge
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "u long, v long",
    ).localCheckpoint()

    kernel = triangle_counts_from_edges(edges)
    plan_kernel = kernel._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan_kernel
    assert "Join" not in plan_kernel

    monkeypatch.setattr(graph, "TRIANGLE_KERNEL_MAX_EDGES", 0)
    fused = triangle_counts_from_edges(edges)
    plan_fused = fused._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_fused
    assert "SortMergeJoin" not in plan_fused

    monkeypatch.setattr(graph, "TRIANGLE_BROADCAST_MAX_EDGES", 0)
    middle = triangle_counts_from_edges(edges)
    plan_middle = middle._jdf.queryExecution().executedPlan().toString()
    # closing-broadcast tier: wedge join shuffles, closing probe is the
    # ONLY broadcast (single packed-long column)
    assert "BroadcastHashJoin" in plan_middle
    assert "SortMergeJoin" in plan_middle or "ShuffledHashJoin" in plan_middle

    monkeypatch.setattr(graph, "TRIANGLE_CLOSING_BROADCAST_MAX_EDGES", 0)
    spilled = triangle_counts_from_edges(edges)
    plan_spilled = spilled._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan_spilled
    assert "SortMergeJoin" in plan_spilled or "ShuffledHashJoin" in plan_spilled

    # all four strategies compute identical counts
    expect = {"n_edges": 7, "n_wedges": None, "n_triangles": 4}
    r1, r2 = fused.collect()[0], spilled.collect()[0]
    assert kernel.collect()[0] == r1
    assert middle.collect()[0] == r1
    assert r1 == r2
    assert r1["n_edges"] == expect["n_edges"]
    assert r1["n_triangles"] == expect["n_triangles"]


def test_paragraph_dedup_is_digest_rollup_topk(spark):
    # only digests shuffle (one partial-agg exchange) and the top-k is a
    # TakeOrdered, never a global sort of the digest table
    plan = _plan(spark, "x_dedup_paragraph")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_bloom_semi_prefilter_is_in_scan_stage(spark):
    plan = _plan(spark, "x_join_bloom_semi")
    # the Bloom membership probes are broadcast semi joins against the
    # 1024-row bitmap relation (bit_get residual on the word's bits),
    # and the exact verify is a broadcast semi join too — the fact side
    # never shuffles, and the bitmap never reaches the driver (the
    # bit_or aggregate materializes executor-side in the session
    # checkpoint; see test_bloom_bitmap_build_is_executor_side)
    assert "bit_get" in plan
    # probe hash must be native xxhash64 (codegen, no string building),
    # never a digest-of-concat — r4 verdict perf finding
    assert "xxhash64" in plan and "md5" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning(o_custkey" not in plan


def test_bloom_bitmap_build_is_executor_side(spark):
    # the bitmap build must OR bits into words via a bit_or aggregate ON
    # THE EXECUTORS — the driver collect is bounded by the 1024-word
    # bitmap width, never by build-side key count (r5 verdict: the old
    # per-position collect was the one data-proportional driver
    # materialization left in the repo)
    from pyspark.sql import functions as F

    from geostore_spark.operators.runtime_filters import (
        _WORDS,
        bloom_words_df,
        build_bloom_words,
    )

    keys = spark.range(0, 50_000).select(F.col("id").alias("k"))
    agg = bloom_words_df(keys, "k")
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "bit_or" in plan and "HashAggregate" in plan
    assert agg.count() <= _WORDS  # collected rows bounded by bitmap width
    words = build_bloom_words(keys, "k")
    assert len(words) == _WORDS


def test_kcore_rounds_reuse_checkpointed_edges(spark, monkeypatch):
    plan = _plan(spark, "x_graph_kcore")
    # at fixture size the r12 local kernel answers from one collect of
    # the pinned scaffold: the returned plan is a local result table,
    # no joins, no cartesian
    assert "LocalTableScan" in plan or "ExistingRDD" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    # the distributed tier (forced) keeps the r11 shape: the scaffold
    # edge list and each round's keep set are pinned (ExistingRDD) so
    # the lineitem scan + distinct is never re-derived per round, and
    # the PEELED chain stays lazy over those pins
    from geostore_spark.operators import graph

    monkeypatch.setattr(graph, "GRAPH_LOCAL_KERNEL_MAX_EDGES", 0)
    dist = graph.q_kcore(spark, SF)
    dplan = dist._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in dplan or "Scan ExistingRDD" in dplan
    assert "CartesianProduct" not in dplan


def test_ewma_is_bounded_window_not_self_join(spark):
    plan = _plan(spark, "x_events_ewma")
    # the Spark side must run the RANGE-framed window + higher-order
    # aggregate — never the oracle's quadratic self-join
    assert "Join" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_zipf_topk_is_take_ordered(spark):
    plan = _plan(spark, "x_text_zipf")
    # top-200 vocabulary cut must be a TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_mutual_info_marginals_are_single_partition_windows(spark):
    # r11: the |X|x|Y| cell table is type-bounded, so marginals/total
    # are window sums over the coalesced single partition — one fact
    # shuffle, no broadcast branches re-running the fact aggregate
    # (sf0.1 interleaved medians 0.53 s -> 0.30 s)
    plan = _plan(spark, "x_stats_mutual_info")
    assert "Window" in plan
    assert "Join" not in plan
    assert "Coalesce" in plan


def test_chi2_marginals_are_single_partition_windows(spark):
    # r11: same lever as mutual_info (0.76 s -> 0.45 s at sf0.1) — the
    # contingency cells coalesce to one partition, marginals become
    # window sums, and the plan carries no join at all
    plan = _plan(spark, "x_stats_chi2")
    assert "Window" in plan
    assert "Join" not in plan
    assert "Coalesce" in plan


def test_shard_assign_is_one_shuffle_plus_broadcast_total(spark):
    plan = _plan(spark, "x_pipeline_shard_assign")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cov_matrix_is_single_aggregate_pass(spark):
    plan = _plan(spark, "x_stats_cov_matrix")
    # all 14 moments in one partial+final aggregate — no per-pair passes
    assert plan.count("HashAggregate") == 2
    assert "Join" not in plan


def test_markov_normalizer_broadcasts(spark):
    plan = _plan(spark, "x_events_markov")
    # row normalizer re-aggregates the transition table, broadcast back;
    # the event stream is shuffled once (the LAG window)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kneser_ney_stats_all_broadcast(spark):
    plan = _plan(spark, "x_text_kneser_ney")
    # ctx/cont/total all broadcast; the exploded corpus shuffles once
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_gram_matrix_is_single_aggregate_pass(spark):
    plan = _plan(spark, "x_emb_gram")
    # 136 moments in one partial+final aggregate over the scan — the
    # N x d data shrinks to 136 scalars map-side; no join, no explode
    # before the aggregate
    assert plan.count("HashAggregate") == 2
    assert "Join" not in plan


def test_minhash_eval_verify_joins_only_candidates(spark):
    plan = _plan(spark, "x_dedup_minhash_eval")
    # the exact-Jaccard verify must join against the LSH candidate set,
    # never cross documents
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_rfm_local_tier_is_single_kernel(spark):
    # below the dispatch threshold the per-customer rollup runs in one
    # vectorized task: no range exchange, no window at all
    plan = _plan(spark, "x_orders_rfm")
    assert "rangepartitioning" not in plan.lower()
    assert "row_number()" not in plan
    assert "mapInPandas" in plan or "MapInPandas" in plan


def test_rfm_distributed_tier_ranks_are_two_phase(spark, monkeypatch):
    import geostore_spark.operators.analytics as analytics

    # force the distributed tier: the three global ranks must be
    # two-phase — range partition + a row_number window LOCAL to (_pid),
    # never row_number over all rows (the tiny offsets prefix-sum window
    # over ≤32 per-pid counts is the helper's intended constant-size
    # global step)
    import geostore_spark.operators.util as util

    monkeypatch.setattr(analytics, "RFM_LOCAL_THRESHOLD", -1)
    monkeypatch.setattr(util, "RANK_LOCAL_THRESHOLD", -1)
    plan = _plan(spark, "x_orders_rfm")
    assert "rangepartitioning" in plan.lower()
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "_pid" in line, f"global row_number found: {line[:120]}"


def test_basket_lift_supports_broadcast_and_topk(spark):
    plan = _plan(spark, "x_orders_basket_lift")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_skew_kurtosis_is_single_aggregate_pass(spark):
    plan = _plan(spark, "x_stats_skew_kurtosis")
    assert plan.count("HashAggregate") == 2
    assert "Join" not in plan


def test_recall_eval_join_is_audit_sized(spark):
    plan = _plan(spark, "x_sim_recall_eval")
    # the recall join runs over the two k-per-query outputs, broadcast,
    # never a shuffle of score space
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_unpivot_expansion_is_zero_shuffle(spark):
    plan = _plan(spark, "x_unpivot_melt")
    # stack() expands in the scan stage; only the rollup exchanges
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_posexplode_generate_fused_into_scan(spark):
    plan = _plan(spark, "x_posexplode_ordinality")
    assert "Generate" in plan
    assert "Join" not in plan


def test_chunk_windows_expansion_is_zero_shuffle(spark):
    plan = _plan(spark, "x_text_chunk_windows")
    # chunk generation must be a Generate in the scan stage; only the
    # per-doc rollup exchanges
    assert "Generate" in plan
    assert "Join" not in plan


def test_bfs_rounds_are_checkpointed(spark, monkeypatch):
    plan = _plan(spark, "x_graph_bfs_layers")
    # at fixture size the r12 local kernel answers from one collect of
    # the pinned scaffold — a local result table, no joins
    assert "LocalTableScan" in plan or "ExistingRDD" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    # distributed tier (forced): each round's frontier/visited
    # materializes at build (checkpoint), so the returned plan is a
    # union of counts over cached layers — round r never replays rounds
    # 0..r-1's joins at execution
    from geostore_spark.operators import graph

    monkeypatch.setattr(graph, "GRAPH_LOCAL_KERNEL_MAX_EDGES", 0)
    dist = graph.q_bfs_layers(spark, SF)
    dplan = dist._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in dplan
    assert "Join" not in dplan and "CartesianProduct" not in dplan


def test_gapfill_spine_is_generate_no_calendar_dim(spark):
    plan = _plan(spark, "x_events_gapfill")
    # the day spine must come from sequence()/explode (Generate), not a
    # joined calendar dimension table scan
    assert "Generate" in plan
    assert plan.count("Scan parquet") <= 1 or plan.count("FileScan") <= 1


def test_abc_pareto_prefix_sum_is_two_phase(spark, monkeypatch):
    import geostore_spark.operators.util as util

    monkeypatch.setattr(util, "RANK_LOCAL_THRESHOLD", -1)
    plan = _plan(spark, "x_part_abc_pareto")
    # the global cumulative sum must be two-phase: range partition +
    # per-pid local running sums; a SUM window over all rows in one
    # partition must not exist
    assert "rangepartitioning" in plan.lower()
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "_pid" not in line:
            # only the ≤32-row offsets window may be global
            assert "_tot" in line or "_cnt" in line, line[:140]


def test_q6_prunes_scan_and_pushes_predicates(spark):
    plan = _plan(spark, "x_q6_discount_revenue")
    # the 16-column table must scan only the 4 referenced columns, with
    # the range predicates as data filters on the scan (the toString
    # abbreviates the long PushedFilters list, so pin via DataFilters)
    assert "[l_quantity" in plan and "l_shipdate" in plan
    assert "DataFilters: [isnotnull(l_shipdate" in plan
    assert plan.count("HashAggregate") == 2


def test_mm_codecs_are_arrow_batched_map_in_pandas(spark):
    for name in ("x_mm_wav_decode", "x_mm_bmp_decode"):
        plan = _plan(spark, name)
        assert "MapInPandas" in plan
        assert "Join" not in plan


def test_cohort_ltv_single_fact_shuffle_no_join(spark):
    # acquisition date is a MIN window over the customer key: one
    # customer-keyed exchange of the fact, no join at all (the r10
    # broadcast-back form built a customers-sized dim — not
    # bounded-small at scale — and paid two fact passes; sf1
    # interleaved medians ~1.9 s -> ~1.0 s as the window form)
    plan = _plan(spark, "x_events_cohort_ltv")
    assert "Join" not in plan
    assert "WindowExec" in plan or "Window" in plan
    assert plan.count("hashpartitioning(o_custkey") >= 1


def test_wilson_rank_part_dim_broadcasts_and_takes_topk(spark):
    plan = _plan(spark, "x_stats_wilson_rank")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_hhi_totals_broadcast(spark):
    plan = _plan(spark, "x_stats_hhi")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_heaps_checkpoints_are_one_expand_pass(spark):
    plan = _plan(spark, "x_text_heaps")
    # five prefix vocabularies from ONE multi-distinct aggregate
    assert "Expand" in plan
    assert "Join" not in plan


def test_streaks_islands_need_no_self_join(spark):
    plan = _plan(spark, "x_win_streaks")
    # the island window materializes inside the checkpointed summary
    # (ExistingRDD); the only live join is the longest-vs-islands match
    # on the tiny per-user summary — broadcast, never a fact self-join
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_js_divergence_is_join_free_conditional_agg(spark):
    # r11: grouping by char with conditional per-language counts IS the
    # full-outer row set, and the type-bounded alphabet coalesces to one
    # partition whose window sums are the language totals — the plan
    # carries no join at all (r10: pin + broadcast + full-outer SMJ;
    # sf0.1 interleaved medians 1.24 s -> 0.78 s)
    plan = _plan(spark, "x_text_js_divergence")
    assert "Join" not in plan
    assert "Window" in plan and "Coalesce" in plan


def test_pct_change_lag_runs_over_rollup_not_fact(spark):
    plan = _plan(spark, "x_win_pct_change")
    # the LAG window's input must be the aggregated monthly table: the
    # window sits above a final HashAggregate, never directly on the scan
    assert "Window" in plan and "HashAggregate" in plan


def test_template_fingerprint_is_digest_rollup_topk(spark):
    # the shape fingerprint is a zero-join codegen projection; the head
    # is a TakeOrdered, never a global sort of the digest table
    plan = _plan(spark, "x_text_template_fingerprint")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_filter_ablation_is_single_aggregate_pass(spark):
    # three rule booleans + eight counters in ONE map-side-partial
    # aggregate — no per-rule passes, no joins, schema pruned to text.
    # Exchange budget is 2: the round-robin scan rebalance (measured
    # sf1 interleaved medians: 1.93 s vs 2.33 s plain) plus the
    # partial->final aggregate shuffle. Column pruning must survive
    # the repartition (ReadSchema stays text-only).
    plan = _plan(spark, "x_pipeline_filter_ablation")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2
    assert "ReadSchema: struct<text:string>" in plan


def test_linreg_is_one_partial_agg_shuffle(spark):
    plan = _plan(spark, "x_stats_linreg")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_rolling_anomaly_no_join_no_cartesian(spark):
    # daily rollup + one ROWS-framed window per type; never a self-join
    plan = _plan(spark, "x_events_rolling_anomaly")
    assert "Join" not in plan
    assert "Window" in plan


def test_dim_truncation_zero_join_label_rollup(spark):
    plan = _plan(spark, "x_emb_dim_truncation")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_approx_quantile_audit_probe_broadcasts(spark):
    # the 3-row sketch result broadcasts onto the fact scan for the
    # exact-rank probe; the fact side must not shuffle for the join
    plan = _plan(spark, "x_stats_approx_quantile_audit")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_mm_window_queries_push_doc_filter(spark):
    for name in ("x_mm_wav_windows", "x_mm_bmp_histogram"):
        plan = _plan(spark, name)
        assert "MapInPandas" in plan
        assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id" in plan


def test_silhouette_rides_shared_kmeans_assignment(spark):
    # r4 verdict #5: silhouette must reuse the session-shared
    # checkpointed assignment (ONE Lloyd loop per suite for kmeans /
    # silhouette / semantic-dedup), so its plan reads the checkpoint
    # (ExistingRDD), never re-running the MapInPandas iteration, and
    # never joining
    from geostore_spark.operators.ml import shared_kmeans_assignment

    a1 = shared_kmeans_assignment(spark, SF)
    a2 = shared_kmeans_assignment(spark, SF)
    assert a1 is a2  # memoized per (context, sf)
    plan = _plan(spark, "x_ml_silhouette")
    assert "ExistingRDD" in plan
    assert "MapInPandas" not in plan
    assert "Join" not in plan


def test_backlog_window_runs_over_month_aggregate(spark):
    # the running backlog sum windows over the month-keyed aggregate
    # (~80 rows), never the order/lineitem fact tables: the Window node
    # must sit above the final HashAggregate in the plan tree
    plan = _plan(spark, "x_orders_backlog")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_hotspot_stencil_never_cartesian(spark):
    # the 3x3 stencil is an offset-explode + equi-join on the cell
    # aggregate; a point self-join or cross product must never appear
    plan = _plan(spark, "x_geo_hotspot")
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the offset explode
    assert plan.count("HashAggregate") >= 2


def test_ratio_to_report_window_over_rollup(spark):
    # the share window evaluates over the (nation, segment) aggregate,
    # never the joined fact stream
    plan = _plan(spark, "x_win_ratio_to_report")
    assert "Window" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_skyline_is_window_sweep_not_pairwise(spark):
    # the Pareto test must compile to two windows over the bucket
    # rollup — no self-join / nested-loop dominance probe
    plan = _plan(spark, "x_orders_skyline")
    assert "Window" in plan
    assert "Join" not in plan


def test_burstiness_and_seasonality_shapes(spark):
    plan = _plan(spark, "x_events_burstiness")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2
    plan = _plan(spark, "x_events_seasonality")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_simhash_eval_verify_broadcasts_at_fixture_size(spark):
    plan = _plan(spark, "x_dedup_simhash_eval")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_trigram_novelty_no_cartesian(spark):
    plan = _plan(spark, "x_text_trigram_novelty")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_centroid_shift_single_moment_shuffle(spark):
    # the (label, half, dim) moment aggregate partially aggregates
    # map-side; the half-vs-half comparison joins aggregate-sized frames
    plan = _plan(spark, "x_emb_centroid_shift")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_ngram_verify_is_barrier_free(spark):
    # the round-4 fix: candidates stream straight from the prefix
    # self-join through the broadcast verify in one codegen stage — a
    # mid-pipeline distinct/Exchange between them cost 2.3x end-to-end.
    # The only aggregation allowed after the join is the final
    # dropDuplicates of verified pairs (tiny).
    plan = _plan(spark, "x_dedup_ngram_jaccard")
    verify_joins = plan.count("BroadcastHashJoin")
    assert verify_joins >= 3  # df-tag join + two verify array joins
    # no shuffle may sit between the candidate join and the verify:
    # the SortMergeJoin-free property plus a bounded exchange count
    # pins it (exchanges: prefix-join input shuffles + final dedup/sort)
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") <= 6


def test_a8_hll_never_rides_the_distinct_expand(spark):
    # r5 scale fix: countDistinct mixed into the HLL agg() makes
    # Catalyst plan an Expand and carry the rsd=0.02 HLL buffer through
    # per-(flag, partkey) partial groups — gigabytes of agg state at
    # sf1+ (measured 12-27 s with GC thrash). The two sides must stay
    # separate aggregates joined on the 3-row group table.
    plan = _plan(spark, "a8_approx_distinct")
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan


def test_a9_quantiles_local_tier_is_one_kernel_task(spark):
    # r11: below the measured break-even (8 M orders, parquet-metadata
    # count) the quantile SELECTION is one numpy sort task fed by a
    # single 1-partition exchange — never Spark's `percentile` map
    # aggregate (a value->count OpenHashMap through every partial-agg
    # buffer; measured 30 s at sf1, O(data) agg state at 100 TB), and
    # none of the distributed tier's ~5 fixed stage floors (sf0.1
    # interleaved medians: 2.04 s -> 0.48 s).
    plan = _plan(spark, "a9_quantiles")
    assert "percentile" not in plan  # both tiers: never the map aggregate
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_a9_quantiles_scale_tier_is_two_phase(spark, monkeypatch):
    # force the scale tier: the local row_number windows must be
    # partitioned by (_pid, group) — a naive 1-task-per-group global
    # rank would windowspec on the group alone (the RangePartitioning
    # exchange itself hides behind the helper's pinned checkpoint, so
    # the _pid in the windowspec is the observable witness of it)
    import geostore_spark.operators.util as util
    import geostore_spark.plans.canonical as canonical

    monkeypatch.setattr(canonical, "A9_LOCAL_THRESHOLD", -1)
    monkeypatch.setattr(util, "RANK_LOCAL_THRESHOLD", -1)
    plan = _plan(spark, "a9_quantiles")
    assert "percentile" not in plan
    assert "windowspecdefinition(_pid" in plan


def test_dynamic_partition_pruning_engages_on_partitioned_fact(spark, tmp_path):
    """Partition pruning at runtime: joining a hive-partitioned fact
    against a filtered dim must inject a dynamicpruning subquery into
    the fact scan's partition filters — at 100 TB this is the
    difference between scanning one partition and scanning the table
    when the partition keys only become known at run time."""
    from pyspark.sql import functions as F

    from geostore_spark.sources.tables import load_table

    path = str(tmp_path / "dpp_orders")
    load_table(spark, "orders", SF).write.partitionBy(
        "o_orderpriority"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("1-URGENT", 10), ("5-LOW", 20)], "pr string, w int"
    ).filter(F.col("w") == 10)
    j = (
        fact.join(dim, fact["o_orderpriority"] == dim["pr"])
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    [row] = j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    expect = (
        load_table(spark, "orders", SF)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .count()
    )
    assert row["n"] == expect


def test_rfm_tiers_agree(spark, monkeypatch):
    """The local kernel and the distributed three-branch plan are two
    tiers of ONE operator: identical 64-cell rollups on the same data
    (int64-exact on both, so equality is bitwise)."""
    import geostore_spark.operators.analytics as analytics

    fn = entry_mod.queries()["x_orders_rfm"]
    local = [tuple(r) for r in fn(spark, SF).collect()]
    monkeypatch.setattr(analytics, "RFM_LOCAL_THRESHOLD", -1)
    dist = [tuple(r) for r in fn(spark, SF).collect()]
    assert local == dist and len(local) > 0


def test_a9_tiers_agree(spark, monkeypatch):
    """The single-task sort-selection kernel and the two-phase
    distributed rank are two tiers of ONE quantile operator: identical
    integer cut positions and the same lo + frac*(hi-lo) float64
    interpolation, so agreement is bitwise."""
    import geostore_spark.plans.canonical as canonical

    fn = entry_mod.queries()["a9_quantiles"]
    local = [tuple(r) for r in fn(spark, SF).collect()]
    monkeypatch.setattr(canonical, "A9_LOCAL_THRESHOLD", -1)
    dist = [tuple(r) for r in fn(spark, SF).collect()]
    assert local == dist and len(local) > 0
