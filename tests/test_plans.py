"""Physical-plan regression tests — the 100 TB posture, enforced.

Correctness tests say the answers are right; these say the PLANS are
right: filters reach the parquet scan, scans read only needed columns,
aggregations combine map-side, small dimensions broadcast, top-k never
globally sorts, and no hot-path query falls back to row-at-a-time
Python. A regression here is invisible at sf0.001 and fatal at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tinymapreduce_spark.operators import dedup
from tinymapreduce_spark.plans import analytics, events, layout


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_pushdown_prune_partial_agg(spark, sf_dir):
    p = plan_of(analytics.q1_pricing_summary(spark, sf_dir))
    # predicate pushdown: the shipdate filter reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: untouched wide columns never leave the scan
    assert "l_comment" not in p and "l_shipinstruct" not in p
    # map-side combine: partial_sum before the exchange
    assert "partial_sum" in p
    # exactly one shuffle (the groupBy) — no accidental repartitions
    assert p.count("Arguments: hashpartitioning") == 1


def test_q5_all_dims_broadcast(spark, sf_dir):
    p = plan_of(analytics.q5_local_supplier_volume(spark, sf_dir))
    # every dimension join (orders/supplier/customer/nation/region) is a
    # broadcast hash join on the lineitem probe side: zero fact shuffles
    # before the final aggregation
    assert p.count("BroadcastHashJoin Inner") == 5
    assert "SortMergeJoin" not in p
    assert p.count("Arguments: hashpartitioning") == 1  # only the agg


def test_word_count_stays_jvm_side(spark, sf_dir):
    from tinymapreduce_spark.operators import reference_queries

    p = plan_of(reference_queries.word_count(spark, sf_dir))
    # tokenize+explode+count entirely in codegen — no Python in the plan
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "PythonUDF" not in p
    assert "partial_count" in p


def test_topk_per_group_no_global_sort(spark, sf_dir):
    p = plan_of(analytics.topk_per_group(spark, sf_dir))
    # rank-per-group must partition by group, never collapse to one task
    assert "Exchange SinglePartition" not in p
    assert "hashpartitioning(p_brand" in p or "hashpartitioning(p_brand".replace("p_brand","p_brand#") in p


def test_sort_limit_is_topk_not_full_sort(spark, sf_dir):
    p = plan_of(analytics.sort_limit(spark, sf_dir))
    # orderBy+limit must plan as TakeOrderedAndProject (per-partition
    # top-k + merge), not a global sort of the full table
    assert "TakeOrderedAndProject" in p


def test_dedup_exact_narrow_shuffle(spark, sf_dir):
    p = plan_of(dedup.dedup_exact(spark, sf_dir))
    # only doc_id + text are scanned; the shuffle key is the md5, with
    # map-side partial aggregation so duplicate groups collapse pre-shuffle
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    assert "partial_min" in p or "partial_count" in p


def test_asof_join_no_cartesian(spark, sf_dir):
    p = plan_of(events.asof_join(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ngram_dedup_candidate_join_on_hashes(spark, sf_dir):
    # the COMPUTE form (the registry query reads its once-per-session
    # materialization; this pins the plan that produces it)
    p = plan_of(dedup.ngram_jaccard_pairs(spark, sf_dir))
    # shingles travel as xxhash64 longs — no shingle strings in any
    # exchange; every hashpartitioning key is doc_id/hash/band typed.
    # The hashing itself happens in the shingle relation, which the
    # pair pipeline materializes eagerly (released-on-GC checkpoint,
    # not a CacheManager pin) — so the hash expression is pinned on the
    # PRODUCING plan and the pair plan is checked for exchange hygiene.
    from tinymapreduce_spark.sources.loaders import documents_for_cpu

    p_sh = plan_of(dedup._shingles(documents_for_cpu(spark, sf_dir)))
    assert "xxhash64" in p_sh
    for line in (p + p_sh).splitlines():
        if "Exchange hashpartitioning" in line:
            assert "shingle" not in line


def test_kv_replay_single_shuffle(spark, sf_dir):
    from tinymapreduce_spark.operators import kv

    p = plan_of(kv.kv_replay(spark, sf_dir))
    # the per-key window and the final groupBy share hashpartitioning(key):
    # Catalyst reuses the partitioning, so the whole replay is ONE shuffle
    assert p.count("Arguments: hashpartitioning") == 1
    # and the scan reads only the three columns the log derivation needs
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string>" in p


def test_multimodal_prunes_to_payload_columns(spark, sf_dir):
    from tinymapreduce_spark.operators import multimodal

    p = plan_of(multimodal.multimodal_features(spark, sf_dir))
    # only (doc_id, text->payload) enter the Arrow channel; no shuffle at all
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    assert p.count("Arguments: hashpartitioning") == 0


def test_bucketed_join_zero_shuffle(spark, sf_dir):
    p = plan_of(layout.bucketed_join_revenue(spark, sf_dir))
    # co-bucketed fact-fact join: SMJ with NO exchange on either join
    # side — the only shuffle in the whole query is the final groupBy
    assert "SortMergeJoin" in p
    assert p.count("Arguments: hashpartitioning") == 1
    assert "SelectedBucketsCount: 8 out of 8" in p


def test_partitioned_sink_prunes_directories(spark, sf_dir):
    p = plan_of(layout.partitioned_sink_pruned_scan(spark, sf_dir))
    # the lang predicate must be a partition filter (directory pruning at
    # plan time), not a data filter evaluated per row
    assert "PartitionFilters: [isnotnull(lang" in p
    assert "= en)]" in p


def test_salted_join_spreads_hot_keys(spark, sf_dir):
    p = plan_of(layout.salted_skew_join(spark, sf_dir))
    # the join must shuffle on (event_type, salt) — never on the bare hot
    # key — and stay a shuffle join (broadcast would bypass the salting)
    assert any(
        "hashpartitioning(event_type" in line and "salt" in line
        for line in p.splitlines()
        if "Arguments: hashpartitioning" in line
    )


@pytest.mark.parametrize(
    "qname",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q10_returned_items",
        "q18_large_orders",
    ],
)
def test_tpch_queries_whole_stage_codegen(spark, sf_dir, qname):
    # AQE finalizes the plan at runtime, so codegen spans are only visible
    # on the executed plan: run the query, then check for "*(n)" stages.
    df = getattr(analytics, qname)(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final, f"no WholeStageCodegen span in executed plan:\n{final[:2000]}"


def test_contamination_eval_side_broadcasts(spark, sf_dir):
    from tinymapreduce_spark.operators import curation

    p = plan_of(curation.contamination_check(spark, sf_dir))
    # the distinct eval-gram set (tiny) must broadcast; the training-side
    # gram stream must NEVER shuffle on the gram string for the semi join
    assert "BroadcastHashJoin LeftSemi" in p
    # exactly one gram shuffle total: the eval side's distinct (under the
    # BroadcastExchange); the training side's grams move through no exchange
    assert p.count("Arguments: hashpartitioning(gram") == 1


def test_sequence_pack_single_shuffle(spark, sf_dir):
    from tinymapreduce_spark.operators import curation

    p = plan_of(curation.sequence_pack(spark, sf_dir))
    # window partitionBy(bucket) and groupBy(bucket, seq_id) must share
    # one hashpartitioning(bucket) exchange: hashpartitioning on a subset
    # of the grouping keys satisfies the aggregate's distribution
    assert p.count("Arguments: hashpartitioning") == 1
    # and only (doc_id, text) are read from the scan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_pack_nextfit_shuffles_counts_not_text(spark, sf_dir):
    from tinymapreduce_spark.operators import packing

    p = plan_of(packing.pack_nextfit_bins(spark, sf_dir))
    # the packer's data exchange routes on shard; the text column is
    # projected away BEFORE it (only doc_id/shard/token-count shuffle),
    # so 100 TB of text never crosses the wire
    assert "Arguments: hashpartitioning(shard" in p
    assert "FlatMapGroupsInPandas" in p
    gp = p[p.index("FlatMapGroupsInPandas") :]
    assert "text" not in gp.split("\n")[1]  # Arguments line: no text col
    # column pruning at the scan: only what tokenization needs
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_length_curriculum_window_feeds_agg_without_reshuffle(spark, sf_dir):
    from tinymapreduce_spark.operators import packing

    p = plan_of(packing.length_curriculum(spark, sf_dir))
    # the per-shard window and the (shard, batch) aggregate share one
    # hashpartitioning(shard) exchange (plus the presentation-only
    # range partitioning for orderBy); no global single-partition window
    assert p.count("Arguments: hashpartitioning") == 1
    assert "SinglePartition" not in p
    assert "partial_count" in p  # map-side combine survives the window


def test_q6_all_predicates_pushed(spark, sf_dir):
    p = plan_of(analytics.q6_forecast_revenue(spark, sf_dir))
    # every predicate reaches the parquet reader; scan reads only the
    # four filter/product columns
    for pushed in (
        "IsNotNull(l_shipdate)",
        "GreaterThanOrEqual(l_discount,0.04)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in p
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp" in p
    )


def test_q10_topn_never_global_sorts(spark, sf_dir):
    p = plan_of(analytics.q10_returned_items(spark, sf_dir))
    # global top-20 must plan as TakeOrderedAndProject (per-partition
    # heaps + driver merge), with the returnflag filter pushed and the
    # dims broadcast
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(l_returnflag,R)" in p
    # every join broadcasts at this sf (orders may or may not depending
    # on stats); at minimum customer and nation never shuffle the fact
    assert p.count("BroadcastHashJoin Inner") >= 2
    assert "SortMergeJoin" not in p


def test_q18_aggregates_before_join(spark, sf_dir):
    p = plan_of(analytics.q18_large_orders(spark, sf_dir))
    # the quantity rollup must run BEFORE any join (partial_sum feeding
    # the one l_orderkey exchange), so only qualifying orderkeys reach
    # the join, and lineitem's scan reads just (orderkey, quantity)
    assert "partial_sum(l_quantity" in p
    assert p.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(l_orderkey" in p
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_q12_case_folds_into_partial_agg(spark, sf_dir):
    p = plan_of(analytics.q12_priority_lines(spark, sf_dir))
    # the shipdate window prunes at the scan; the CASE WHEN evaluates
    # inside the map-side partial aggregate, never as materialized rows
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in p
    assert "partial_sum(CASE WHEN o_orderpriority" in p
    # one shuffle total: the tiny post-join group-by
    assert p.count("Arguments: hashpartitioning") == 1


def test_q14_broadcasts_part_single_row_out(spark, sf_dir):
    p = plan_of(analytics.q14_promo_revenue(spark, sf_dir))
    # part broadcasts; the fact table never hash-shuffles — the only
    # exchange is the SinglePartition final-agg gather
    assert "BroadcastHashJoin Inner" in p
    assert "Arguments: hashpartitioning" not in p
    assert "Arguments: SinglePartition" in p
    assert "ReadSchema: struct<l_partkey:bigint,l_extendedprice:double,l_discount:double,l_shipdate" in p


def test_q19_disjunction_pushes_to_both_scans(spark, sf_dir):
    p = plan_of(analytics.q19_disjunctive_parts(spark, sf_dir))
    # the OR-of-ANDs splits: lineitem's scan gets the quantity-range
    # disjunction, part's scan gets the brand/size disjunction — both
    # prune BEFORE the join re-checks the cross-side condition
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in p
    assert "Or(Or(And(EqualTo(p_brand,Brand#12)" in p
    assert "BroadcastHashJoin Inner" in p


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    p = plan_of(analytics.q22_idle_customers(spark, sf_dir))
    # anti join builds on the URGENT slice (predicate pushed to orders'
    # scan, custkey-only read); the AVG subquery broadcasts as one row
    assert "BroadcastHashJoin LeftAnti" in p
    assert "EqualTo(o_orderpriority,1-URGENT)" in p
    assert "ReadSchema: struct<o_custkey:bigint,o_orderpriority:string>" in p
    assert "BroadcastNestedLoopJoin" in p  # the one-row acctbal threshold


def test_global_sort_plans_range_partitioning(spark, sf_dir):
    p = plan_of(analytics.global_sort_range(spark, sf_dir))
    # total order = range-partitioning exchange (sampled quantile
    # boundaries) + per-partition sort; never a single-partition sort
    assert "Arguments: rangepartitioning(ship_day" in p
    assert "Arguments: SinglePartition" not in p
    assert "EqualTo(l_returnflag,A)" in p


def test_q4_exists_plans_as_semi_join(spark, sf_dir):
    p = plan_of(analytics.q4_order_priority(spark, sf_dir))
    # EXISTS compiles to a semi join (each order emitted at most once,
    # no distinct, no row explosion); both scans pre-filter
    assert "Join type: LeftSemi" in p
    assert "LessThan(o_orderdate,1996-04-01" in p
    assert "EqualTo(l_returnflag,R)" in p
    # the EXISTS probe reads only the two columns it needs
    assert "ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>" in p


def test_q7_nation_tagging_is_broadcast(spark, sf_dir):
    p = plan_of(analytics.q7_volume_shipping(spark, sf_dir))
    # nation joined twice under different roles + supplier + customer:
    # all broadcast; the only fact-fact shuffle is lineitem<->orders on
    # orderkey; the pair disjunction prunes nation's scan
    assert p.count("Join type: Inner") >= 4
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning(l_orderkey" in p and "hashpartitioning(o_orderkey" in p
    assert "EqualTo(n_name,NATION_1)" in p and "EqualTo(n_name,NATION_2)" in p


def test_q9_like_pushdown_single_shuffle(spark, sf_dir):
    p = plan_of(analytics.q9_product_profit(spark, sf_dir))
    # LIKE '%red%' reaches part's scan as StringContains; every join
    # broadcasts at this sf, so the only exchange is the final group-by
    assert "StringContains(p_name,red)" in p
    assert p.count("BroadcastHashJoin Inner") >= 4
    assert p.count("Arguments: hashpartitioning") == 1


def test_q11_single_fact_scan(spark, sf_dir):
    p = plan_of(analytics.q11_supplier_concentration(spark, sf_dir))
    # the global total is a window over the grouped result, NOT a second
    # aggregate subtree — lineitem is scanned exactly once (the string
    # appears twice: once in the plan tree, once in the node details)
    assert p.count("Scan parquet") == 2
    assert "partial_sum" in p
    assert p.count("Arguments: hashpartitioning") == 1
    assert p.count("Arguments: SinglePartition") == 1  # |suppliers|-row window


def test_q13_outer_join_on_clause_filter(spark, sf_dir):
    p = plan_of(analytics.q13_customer_distribution(spark, sf_dir))
    # the ON-clause predicate pushes to orders' scan (it filters the
    # preserved side's matches, not customers); two stacked aggregations
    # = two exchanges, no more
    assert "Join type: LeftOuter" in p
    assert "Not(EqualTo(o_orderpriority,5-LOW))" in p
    assert p.count("Arguments: hashpartitioning") == 2


def test_q15_max_via_window_single_fact_scan(spark, sf_dir):
    p = plan_of(analytics.q15_top_supplier(spark, sf_dir))
    # MAX(total_revenue) is a window over the grouped result — lineitem
    # scanned once (2 scans total incl. supplier; x2 for tree+details)
    assert p.count("Scan parquet") == 4
    assert p.count("Arguments: hashpartitioning") == 1
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in p


def test_q17_window_avg_one_shuffle(spark, sf_dir):
    p = plan_of(analytics.q17_small_quantity_revenue(spark, sf_dir))
    # brand filter pushes to part's scan and broadcasts into lineitem
    # BEFORE the per-part window; the window's partitionBy is the one
    # hash exchange
    assert "EqualTo(p_brand,Brand#23)" in p
    assert p.count("hashpartitioning(p_partkey") == 1
    assert "BroadcastHashJoin Inner" in p


def test_q21_correlated_exists_residual_conditions(spark, sf_dir):
    p = plan_of(analytics.q21_waiting_suppliers(spark, sf_dir))
    # EXISTS/NOT EXISTS with key inequality ride the orderkey equi-join
    # as residual conditions — hash semi/anti joins, never a nested loop
    assert p.count("Join type: LeftSemi") == 2
    assert "Join type: LeftAnti" in p
    assert "Join condition: NOT (l_suppkey" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_ann_trained_tier_no_cartesians_bounded_broadcasts(spark, sf_dir):
    """The integer-trained ANN tier's 100 TB shape: the ONLY
    nested-loop joins are the single-row codebook attaches (an
    array-of-arrays frame broadcast into codegen distance
    expressions); candidate generation and ADC scoring are hash
    equi-joins (cid / (m, code)); nothing is ever a cartesian of two
    data-sized relations."""
    from tinymapreduce_spark.operators import similarity as sim

    for fn, max_codebook_attaches in [
        (sim.ann_ivf_topk, 2),  # cells + probes share one assigned frame
        (sim.ann_pq_topk, 0),  # codebook is a k-row frame: plain broadcast hash joins
        (sim.ann_ivfpq_topk, 2),
    ]:
        p = plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in p, fn.__name__
        n_bnlj = p.count(") BroadcastNestedLoopJoin")
        assert n_bnlj <= max_codebook_attaches, (fn.__name__, n_bnlj)
        if n_bnlj:
            # every BNLJ must be the BuildRight single-row attach
            assert p.count("BroadcastNestedLoopJoin Inner BuildRight") >= n_bnlj, fn.__name__
        assert "BroadcastHashJoin" in p, fn.__name__


def test_q21_probe_sides_stay_hash_joins_at_x10(spark):
    """The r3 x10 disk probe measured q21 at a 2.9x wall ratio —
    input-honest, but only while the EXISTS/NOT-EXISTS probe sides stay
    broadcast/hash joins. Pin the EXECUTED (post-AQE) plan at probe
    scale so a future planner change can't silently flip the 4-way
    orderkey self-join into a sort-merge pileup: both semi probes and
    the anti probe must be hash joins (broadcast, shuffled-hash, or an
    AQE-skew-handled SMJ) carrying their residual suppkey inequalities,
    with no nested-loop or cartesian anywhere."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    x10 = os.path.join(repo, ".tmp", "tpchx10")
    if not os.path.exists(os.path.join(x10, "lineitem.parquet", "_SUCCESS")):
        spec = importlib.util.spec_from_file_location(
            "scale_probe", os.path.join(repo, "tools", "scale_probe.py")
        )
        sp = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(sp)
        sp.COPIES = 10  # dir name pins the scale regardless of env default
        os.makedirs(x10, exist_ok=True)
        sp.build_inflated_tpch(spark, x10)

    df = analytics.q21_waiting_suppliers(spark, x10)
    assert df.count() > 0
    final = df._jdf.queryExecution().executedPlan().toString()
    semi = [ln for ln in final.splitlines() if "LeftSemi" in ln]
    anti = [ln for ln in final.splitlines() if "LeftAnti" in ln]
    assert len(semi) == 2 and len(anti) == 1, (semi, anti)
    for ln in semi + anti:
        assert (
            "BroadcastHashJoin" in ln
            or "ShuffledHashJoin" in ln
            or "skew=true" in ln
        ), f"probe side degraded to an unhandled sort-merge join: {ln}"
    assert "NOT (l_suppkey" in final  # residual inequality rides the equi-join
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final


def test_window_rank_funcs_single_exchange(spark, sf_dir):
    p = plan_of(analytics.window_rank_funcs(spark, sf_dir))
    # six window functions, ONE window spec -> one exchange + one sort;
    # a second spec would double the shuffle
    assert p.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(o_custkey" in p


def test_resample_grid_is_data_proportional(spark, sf_dir):
    from tinymapreduce_spark.plans import events as ev

    p = plan_of(ev.resample_ffill(spark, sf_dir))
    # the calendar grid comes from per-user sequence() + explode/generate
    # (data-proportional), never a cross join against a global calendar
    assert "explode(sequence(" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_dpp_runtime_partition_filter(spark, sf_dir):
    p = plan_of(layout.dpp_partitioned_join(spark, sf_dir))
    # the selective predicate lives on the dim's non-join column, so
    # directory pruning can only happen at runtime: the fact scan's
    # PartitionFilters must contain a dynamicpruningexpression and NO
    # static lang IN (...) filter
    assert "dynamicpruningexpression" in p
    assert " IN (en,de)" not in p


def test_bloom_filter_injected_on_shuffle_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from tinymapreduce_spark.plans.layout import BLOOM_CONFS, _temp_confs
    from tinymapreduce_spark.sources.loaders import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    with _temp_confs(spark, BLOOM_CONFS):
        j = li.join(
            orders.where(F.col("o_orderpriority") == "1-URGENT"),
            li.l_orderkey == orders.o_orderkey,
        ).groupBy("o_orderstatus").count()
        p = plan_of(j)
    # the urgent-orders keys become a bloom filter probed on the fact
    # side BEFORE its shuffle — and the filter side feeds it via
    # bloom_filter_agg
    assert "might_contain" in p
    assert "bloom_filter_agg" in p
    # injection happens on the fact's pre-shuffle filter, not post-join
    fact_filter = [l for l in p.splitlines() if "might_contain" in l]
    assert any("l_orderkey" in l for l in fact_filter)


def test_bloom_filter_join_returns_cached_pruned_result(spark, sf_dir):
    """The operator must NOT collect() to the driver: it returns a
    distributed frame eagerly materialized under the scoped confs
    (localCheckpoint), so its plan is the materialized RDD — lineage is
    truncated and a re-execution can only serve the bloom-pruned
    result, never a re-plan without the confs (VERDICT r01 'What's
    wrong' item 1). A driver-side collect would surface as a
    LocalRelation instead of distributed RDD blocks. The injected
    might_contain itself is pinned by
    test_bloom_filter_injected_on_shuffle_join on the pre-
    materialization plan."""
    df = layout.bloom_filter_join(spark, sf_dir)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in p  # materialized distributed blocks
    assert "LocalRelation" not in p  # not a collected literal


def test_triangle_edges_broadcast_after_distinct(spark, sf_dir):
    from tinymapreduce_spark.operators import graph

    p = plan_of(graph.triangle_count(spark, sf_dir))
    # the 3-way self-join runs on the distinct-collapsed edge list, which
    # must broadcast — a shuffled self-join of the raw fact pairs is the
    # 100 TB failure mode
    assert "BroadcastHashJoin" in p
    # the dims (customer/supplier/nation x2) also broadcast onto the facts
    assert p.count("BroadcastHashJoin") >= 6
    # dedup happens BEFORE the self-join: the distinct's two-phase
    # HashAggregate collapses the relation to edges first
    assert "HashAggregate" in p


def test_copurchase_takeordered_not_global_sort(spark, sf_dir):
    p = plan_of(analytics.copurchase_pairs(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p  # top-k never plans a global sort
    # basket self-join keyed on the orderkey — co-partitioned equi-join
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_funnel_stage_filters_pushed(spark, sf_dir):
    p = plan_of(events.funnel_steps(spark, sf_dir))
    # every stage's event_type filter reaches its scan
    for stage in ("view", "click", "purchase"):
        assert f"EqualTo(event_type,{stage})" in p, stage
    # per-user stage frames join broadcast — the fact table never
    # shuffles for the stage joins
    assert "BroadcastHashJoin" in p


def test_embedding_quantize_zero_shuffle(spark, sf_dir):
    from tinymapreduce_spark.operators import similarity

    p = plan_of(similarity.embedding_quantize(spark, sf_dir))
    assert "Exchange" not in p  # embarrassingly parallel: no shuffle at all
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in p


def test_profile_columns_single_field_scans(spark, sf_dir):
    from tinymapreduce_spark.plans import maintenance

    p = plan_of(maintenance.profile_columns(spark, sf_dir))
    # each per-column aggregate reads exactly its one field
    assert "ReadSchema: struct<l_quantity:double>" in p
    assert "ReadSchema: struct<l_extendedprice:double>" in p
    assert "ReadSchema: struct<l_shipdate:timestamp_ntz>" in p
    # never the full 11-column row
    assert "l_comment" not in p and "l_orderkey" not in p


def test_snapshot_diff_single_full_outer_join(spark, sf_dir):
    from tinymapreduce_spark.plans import maintenance

    p = plan_of(maintenance.snapshot_diff(spark, sf_dir))
    # exactly one join, not per-column comparisons via repeated joins
    # (the formatted plan prints the join type twice per join node)
    assert p.count("Join type: FullOuter") == 1


def test_cached_fact_reused_across_aggregates(spark, sf_dir):
    """persist() + two downstream aggregates: the second plan must read
    the InMemoryRelation, not rescan parquet — the iterative-workload
    pattern (kmeans/pagerank reuse) made explicit."""
    from tinymapreduce_spark.sources.loaders import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    cached = li.persist()
    try:
        cached.count()  # materialize
        agg1 = cached.groupBy("l_returnflag").count()
        agg2 = cached.agg(F.sum("l_quantity"))
        for df in (agg1, agg2):
            p = plan_of(df)
            assert "InMemoryTableScan" in p or "TableCacheQueryStage" in p, p[:500]
        assert agg1.count() > 0 and agg2.collect()[0][0] is not None
    finally:
        cached.unpersist()


def test_equidepth_sampled_no_global_sort(spark, sf_dir):
    """The sampled two-pass bucketing must not plan a global sort —
    that's the whole point versus the exact ntile form."""
    p = plan_of(analytics.equidepth_sampled_raw(spark, sf_dir))
    assert "rangepartitioning" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p  # cuts broadcast


def test_lateral_topn_decorrelates_to_window(spark, sf_dir):
    """The correlated LATERAL LIMIT must decorrelate into a rank window
    + equi-join — NOT a per-outer-row re-execution (nested loop /
    cartesian), which is what a naive planner does with LATERAL."""
    from tinymapreduce_spark.plans import subqueries

    p = plan_of(subqueries.lateral_topn_per_group(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p


def test_recursive_cte_plans_union_loop(spark, sf_dir):
    """WITH RECURSIVE must plan as Catalyst's iterative UnionLoop (each
    step a narrow self-union on the frontier), not an unrolled or
    materialized-to-driver form."""
    from tinymapreduce_spark.plans import subqueries

    p = plan_of(subqueries.recursive_cte_hierarchy(spark, sf_dir))
    assert "UnionLoop" in p


def test_training_shuffle_no_global_sort(spark, sf_dir):
    """The epoch shuffle must sort per shard (parallel partitioned
    window), never as one global total order."""
    from tinymapreduce_spark.operators import curation

    p = plan_of(curation.training_shuffle(spark, sf_dir))
    assert "SinglePartition" not in p
    assert "row_number" in p


def test_equidepth_exact_is_single_partition_sort(spark, sf_dir):
    """Pin the REAL shape of the exact ntile form: an unpartitioned
    window plans Exchange SinglePartition (whole-table one-task sort).
    Documented in the docstring as the gold standard only — if Spark
    ever range-partitions this, the docstring and the scale guidance
    should be revisited."""
    p = plan_of(analytics.equidepth_deciles(spark, sf_dir))
    assert "SinglePartition" in p


def test_shuffle_hash_hint_honored(spark, sf_dir):
    p = plan_of(analytics.shuffle_hash_join_control(spark, sf_dir))
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bm25_single_corpus_scan_all_joins_broadcast(spark, sf_dir):
    """BM25: the corpus is tokenized exactly ONCE (one documents scan;
    per-doc stats/tf come out of a single groupBy and are reused via the
    persisted per_doc relation); every join after that is broadcast (the
    query terms, idf table, and corpus stats are all tiny) — the posting
    rows never sort-merge."""
    from tinymapreduce_spark.operators.retrieval import bm25_topk

    df = bm25_topk(spark, sf_dir)
    p = plan_of(df)
    try:
        assert p.count("documents.parquet") <= 1 or p.count("Scan parquet") <= 1
        assert "SortMergeJoin" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    finally:
        df.sparkSession.catalog.clearCache()


def test_dup_passage_no_cartesian_and_narrow_keys(spark, sf_dir):
    """Passage coverage: candidate generation is a semi join on the
    8-byte window hash — no nested-loop/cartesian anywhere, no Python,
    and window text never survives past the hash projection."""
    from tinymapreduce_spark.operators.dedup import dup_passage_coverage

    p = plan_of(dup_passage_coverage(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "LeftSemi" in p


def test_minhash_band_join_is_equi(spark, sf_dir):
    """MinHash-LSH: the candidate join is an equi-join on
    (band, band_hash) — never a theta/NL join — and the verify joins
    stay equi on doc ids."""
    from tinymapreduce_spark.operators.dedup import dedup_minhash_lsh

    df = dedup_minhash_lsh(spark, sf_dir)
    p = plan_of(df)
    try:
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    finally:
        df.sparkSession.catalog.clearCache()


def test_kmeans_assignment_shuffle_free(spark, sf_dir):
    """The k-means assignment stage scores the K centroids from ONE
    broadcast row (array-of-arrays — so the compiled plan is identical
    every round and at any K x D): the N-vector side must see no
    shuffle, and the only join is that single-row broadcast (the only
    shuffle in a round is the centroid UPDATE aggregation)."""
    from tinymapreduce_spark.operators.clustering import (
        K_CLUSTERS,
        _assign,
        _quantized_vecs,
    )

    vecs = _quantized_vecs(spark, sf_dir)
    init = vecs.orderBy("vec_id").limit(K_CLUSTERS).collect()
    centroids = [[int(v) for v in r["a"]] for r in init]
    p = plan_of(_assign(vecs, centroids))
    assert "BroadcastNestedLoopJoin" in p  # the 1-row centroid ship...
    assert p.count("Join type:") == 1  # ...and no other join
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    # no grouping shuffle in assignment (the vec-spread round-robin
    # exchange from spread-for-cpu is not a hash repartition)
    assert p.count("Arguments: hashpartitioning") == 0


def test_perceptron_scoring_shuffle_free(spark, sf_dir):
    """The perceptron scoring pass (identical plan for every training
    round AND the final inference pass) ships the weights as ONE
    broadcast row; the N-document feature scan must see no hash
    shuffle, no other join, and no Python stage — the only per-round
    shuffle is the D-sum gradient all-reduce."""
    from tinymapreduce_spark.operators.classifier import (
        N_FEATS,
        _features,
        _scored,
    )

    p = plan_of(_scored(_features(spark, sf_dir), [0] * N_FEATS))
    assert "BroadcastNestedLoopJoin" in p  # the 1-row weight ship...
    assert p.count("Join type:") == 1  # ...and no other join
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Arguments: hashpartitioning") == 0
    # margins entirely in codegen (the only "Python" in the plan is the
    # 1-row weight literal's applySchemaToPythonRDD source, not an eval)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in p


def test_doc_ann_broadcast_query_side(spark, sf_dir):
    """doc_ann_topk: the query documents broadcast; the corpus-side
    embedding scan never sort-merges, and the whole scoring pass is
    JVM-side (no Python)."""
    from tinymapreduce_spark.operators.similarity import doc_ann_topk

    p = plan_of(doc_ann_topk(spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastExchange" in p


def test_sketch_tables_partial_aggregate(spark, sf_dir, monkeypatch):
    """The portable HLL register table and the digit-bucket table must
    build with map-side partial aggregation (partial_max / partial
    counts before the exchange) — the mergeable-sketch shape. The
    functions localCheckpoint their sketch tables (which truncates the
    visible lineage), so the checkpoint is bypassed here to expose the
    full build plan."""
    # Spark 4: the concrete classic DataFrame overrides the abstract
    # base's methods, so the bypass must patch the concrete class.
    from pyspark.sql.classic.dataframe import DataFrame

    from tinymapreduce_spark.operators.sketches import (
        digit_bucket_quantiles,
        hll_portable_distinct,
    )

    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, eager=True: self)
    p = plan_of(hll_portable_distinct(spark, sf_dir))
    assert "partial_max" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    p2 = plan_of(digit_bucket_quantiles(spark, sf_dir))
    assert "partial_count" in p2


def test_token_budget_mix_one_window_exchange_and_broadcast_alloc(spark, sf_dir):
    from tinymapreduce_spark.operators import curation

    p = plan_of(curation.token_budget_mix(spark, sf_dir))
    # the O(#sources) allocation table broadcasts onto the fill pass;
    # the doc relation shuffles once for the per-source window (+ the
    # final per-source agg reuses that partitioning or adds one more)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    # tokenization/hashing all in codegen
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_join_skew_profile_single_scan_broadcast_stats(spark, sf_dir):
    from tinymapreduce_spark.plans import maintenance

    p = plan_of(maintenance.join_skew_profile(spark, sf_dir))
    # per-key counts combine map-side; the one-row stats frame broadcasts
    assert "partial_count" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_hll_overlap_register_tables_partial_agg(spark, sf_dir):
    from tinymapreduce_spark.operators import sketches

    p = plan_of(sketches.hll_overlap(spark, sf_dir))
    # register build is a map-side-combined groupBy (max per register);
    # everything after runs on O(groups x 512) rows
    assert "partial_max" in p
    # hash/register math never drops to Python
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_manifest_skipping_scan_reads_file_subset(spark, sf_dir):
    from tinymapreduce_spark.sources import manifest_sink

    df = manifest_sink.manifest_skipping_scan(spark, sf_dir)
    p = plan_of(df)
    # the residual predicate still guards correctness on the kept files
    assert "o_orderdate" in p
    # pruning happened at planning time: the scan's file list is a
    # strict subset of the published snapshot
    from tinymapreduce_spark.sources.manifest_sink import ManifestTable
    from tinymapreduce_spark.sources.textfiles import corpus_dir

    table = ManifestTable(corpus_dir("skip_orders", sf_dir, "orders"))
    total = len(table.snapshot(table.current_version()).files)
    pruned = table.read_pruned(spark, "o_orderdate", "1997-01-01", "1998-01-01")
    n_read = len(pruned.inputFiles())
    assert 0 < n_read < total, (n_read, total)


def test_bloom_incremental_probes_are_broadcast_joins(spark, sf_dir):
    from tinymapreduce_spark.operators import dedup as dd

    p = plan_of(dd.dedup_incremental_bloom(spark, sf_dir))
    # the k=4 bitmap probes broadcast; the bitmap itself is built with a
    # map-side-combined bit_or aggregate
    assert p.count("BroadcastHashJoin LeftOuter") >= 4
    assert "partial_bit_or" in p or "bit_or" in p
    # hashing/probing all in codegen
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pretrain_mix_pipeline_tiny_joins_broadcast(spark, sf_dir):
    from tinymapreduce_spark.operators import curation

    p = plan_of(curation.pretrain_mix_pipeline(spark, sf_dir))
    # per-source stage frames are O(#sources): joined with broadcasts,
    # never a data-sized sort-merge join
    assert "SortMergeJoin" not in p
    # gate + hashing stay in codegen
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_iterator_udf_is_arrow_batched(spark, sf_dir):
    from tinymapreduce_spark.operators import udaf

    p = plan_of(udaf.iterator_udf_scoring(spark, sf_dir))
    # SQL_SCALAR_PANDAS_ITER evaluates as Arrow batches, not row Python
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_dsir_weights_stay_jvm_side_with_broadcast_lut(spark, sf_dir):
    from tinymapreduce_spark.operators import curation

    p = plan_of(curation.dsir_importance_weights(spark, sf_dir))
    # tokenize/hash/bucket in codegen; the 256-row LUT joins broadcast
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    # no data-sized sort-merge join anywhere in the scoring path
    assert "CartesianProduct" not in p


def test_k_anonymity_is_one_aggregate(spark, sf_dir):
    from tinymapreduce_spark.plans import maintenance

    p = plan_of(maintenance.k_anonymity_risk(spark, sf_dir))
    # single hash-aggregate with map-side partials; no join at all
    assert "HashAggregate" in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_l_diversity_is_one_aggregate(spark, sf_dir):
    from tinymapreduce_spark.plans import maintenance

    p = plan_of(maintenance.l_diversity_audit(spark, sf_dir))
    # exact distinct-aggregate: two hash aggregates (partial distinct
    # expansion map-side, final count), still no join and no Python
    assert "HashAggregate" in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_stream_ann_assignment_is_narrow(spark, sf_dir):
    """The ingest path's per-batch cell assignment must be a narrow map
    over the vectors: one broadcast single-row centroid join, no
    Exchange (the only shuffle in the sink is the O(NLIST) stats fold)
    and no Python eval."""
    from tinymapreduce_spark.operators.similarity import (
        _cached_centroids_int,
        _nearest_cid,
        _with_cell_dists,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _cached_centroids_int(spark, sf_dir, emb)
    assigned = _with_cell_dists(emb, cents).select(
        "vec_id", _nearest_cid().alias("cid")
    )
    p = plan_of(assigned)
    assert p.count("Arguments: hashpartitioning") == 0  # no shuffle at all
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row centroid frame


def test_semdedup_pair_join_is_salted_equi(spark, sf_dir):
    from tinymapreduce_spark.operators import similarity

    p = plan_of(similarity.semdedup_drops(spark, sf_dir))
    # the within-cell pair stage must be an EQUI join on (cid, salt) —
    # k*SALT-way parallel — never an all-pairs nested loop over vectors
    assert "Left keys [2]" in p
    assert "CartesianProduct" not in p
    # per-row norms are carried, so each pair evaluates ONE array fold
    # (the dot); a regression back to cosine-per-pair shows up as three
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_semdedup_recall_truth_side_is_bounded_broadcast(spark, sf_dir):
    from tinymapreduce_spark.operators import similarity

    p = plan_of(similarity.semdedup_recall(spark, sf_dir))
    # exact ground truth: broadcast NLJ over the CONSTANT-size sample
    # (vec_id < SEM_RECALL_SAMPLE pushed to the scan), never the corpus
    assert "BroadcastNestedLoopJoin" in p
    assert "LessThan(vec_id,1000)" in p.replace(" ", "").replace("\n", "")
    assert "CartesianProduct" not in p


def test_sketch_error_bounds_scalar_frames_only(spark, sf_dir):
    from tinymapreduce_spark.operators import sketches

    p = plan_of(sketches.sketch_error_bounds(spark, sf_dir))
    # the metric row composes 1-row aggregate frames; nothing Python,
    # no cartesian over data-sized inputs
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # exact distincts combine map-side before their exchange
    assert "partial_count(distinct" in p or "partial_count" in p


def test_perplexity_buckets_no_global_window_and_broadcast_cuts(spark, sf_dir):
    """The CCNet bucketing must never collapse the corpus into one task:
    the tercile NTILE runs only over the hash sample partitioned BY
    LANGUAGE (hash exchange, not SinglePartition), and the O(|lang|)
    cut table returns as a broadcast join — the two properties that
    make the design survive 100 TB."""
    from tinymapreduce_spark.operators.textstats import perplexity_buckets

    p = plan_of(perplexity_buckets(spark, sf_dir))
    assert "Exchange SinglePartition" not in p
    assert "hashpartitioning(lang" in p
    assert "BroadcastHashJoin" in p
    # the sample filter reaches the window input, so the ntile frame is
    # the sample, not the corpus
    assert "ntile(3)" in p


def test_randomized_response_single_aggregate(spark, sf_dir):
    """One map-side-combined hash aggregate, no joins: the collection
    mechanism is per-row arithmetic inside the scan projection."""
    from tinymapreduce_spark.plans.maintenance import randomized_response_estimate

    import re

    p = plan_of(randomized_response_estimate(spark, sf_dir))
    assert "Join" not in p
    # exactly the aggregate's shuffle (formatted explain names each node
    # once in the tree and once as a section — count the sections)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "partial_count" in p  # map-side combine before the exchange


def test_hybrid_rrf_plan_shape(spark, sf_dir):
    """hybrid_rrf_retrieval at 100 TB: both corpus passes must reduce
    via groupBy BEFORE anything joins, the 10-query sides must
    broadcast, and the only sort-merge join allowed is the fusion
    full-outer over the two |queries|x|pool|-bounded rank frames —
    never a corpus-sized shuffle join (the norm is a row-local fold,
    not a self-join) and never a data x data cartesian."""
    from tinymapreduce_spark.operators.retrieval import hybrid_rrf_retrieval

    p = plan_of(hybrid_rrf_retrieval(spark, sf_dir))
    assert "CartesianProduct" not in p
    # the dense query side (10 rows) rides a broadcast nested loop;
    # the lexical query tokens/sizes ride broadcast hash joins
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("BroadcastHashJoin") >= 2
    # at most two SMJs: the bounded full-outer fusion join plus the
    # posting-candidates x sizes equi-join on doc_id (both sides
    # already groupBy-reduced; AQE may further demote it to broadcast
    # at runtime) — and critically NO join keyed on the raw exploded
    # token stream (that would be a corpus x corpus token join)
    assert p.count("SortMergeJoin") <= 2
    for line in p.splitlines():
        if "SortMergeJoin" in line:
            assert "tok" not in line


def test_url_host_stats_is_zero_python_one_shuffle(spark, sf_dir):
    """The URL canonicalization rung must stay ENTIRELY JVM-side: no
    Python evaluation node anywhere (parse_url + string exprs live in
    whole-stage codegen) and exactly one exchange — the partial->final
    hash aggregation pair on host."""
    from tinymapreduce_spark.operators.textstats import url_host_stats

    import re as _re

    p = plan_of(url_host_stats(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in p, node
    # formatted mode repeats node names in the details section — count
    # unique tree node ids, not substring hits. countDistinct(path)
    # legitimately expands to the two-phase distinct-agg plan: one
    # exchange on (host, path), one on host — exactly two, no more
    assert len(set(_re.findall(r"Exchange \((\d+)\)", p))) == 2, p
    assert "HashAggregate" in p


def test_codec_rungs_never_shuffle_pixels(spark, sf_dir):
    """Every codec query's plan: scan -> ONE deliberate fan-out
    exchange -> two Arrow hops. Pixel/sample data must never hit a
    shuffle (the only exchange sits BEFORE the encode kernel)."""
    from tinymapreduce_spark.operators.multimodal import (
        g711_decode_stats,
        gif_decode_stats,
        jpeg420_decode_stats,
        png_decode_stats,
    )
    from tinymapreduce_spark.sources.warcfiles import warc_ingest_stats

    import re as _re

    for fn in (jpeg420_decode_stats, png_decode_stats, gif_decode_stats,
               g711_decode_stats, warc_ingest_stats):
        p = plan_of(fn(spark, sf_dir))
        exs = sorted({int(m) for m in _re.findall(r"Exchange \((\d+)\)", p)})
        hops = sorted({int(m) for m in _re.findall(r"MapInPandas \((\d+)\)", p)})
        assert len(exs) == 1, (fn.__name__, exs)
        assert len(hops) == 2, (fn.__name__, hops)
        # the exchange must precede both kernels (fan-out, not a
        # post-decode shuffle): node ids number bottom-up
        assert all(exs[0] < h for h in hops), (fn.__name__, exs, hops)


def test_tar_and_video_rungs_never_shuffle_payloads(spark, sf_dir):
    """The r6-continuation ingest/codec rungs keep the codec-tier plan
    shape: ONE fan-out exchange BEFORE the Arrow kernels; shard/frame
    bytes never hit a shuffle. tar runs encode+parse as two hops like
    WARC; video folds both into one kernel."""
    import re as _re

    from tinymapreduce_spark.operators.multimodal import (
        audio_spectral_bins,
        video_decode_stats,
    )
    from tinymapreduce_spark.sources.tarfiles import tar_shard_ingest

    for fn, n_hops in ((tar_shard_ingest, 2), (video_decode_stats, 2),
                       (audio_spectral_bins, 1)):
        p = plan_of(fn(spark, sf_dir))
        exs = sorted({int(m) for m in _re.findall(r"Exchange \((\d+)\)", p)})
        hops = sorted({int(m) for m in _re.findall(r"MapInPandas \((\d+)\)", p)})
        assert len(exs) == 1, (fn.__name__, exs)
        assert len(hops) == n_hops, (fn.__name__, hops)
        assert all(exs[0] < h for h in hops), (fn.__name__, exs, hops)


def test_segment_dedup_clean_is_pure_catalyst_two_shuffles(spark, sf_dir):
    """The dedup TRANSFORM must stay entirely JVM-side (tokenize /
    slice / reassemble are Catalyst expressions — no Python node) with
    exactly the two deliberate hash exchanges: the corpus-wide
    first-occurrence window (by segment) and the per-doc reassembly
    aggregate, plus nothing else."""
    import re as _re

    p = plan_of(dedup.segment_dedup_clean(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in p, node
    assert "Window" in p and "HashAggregate" in p
    # window-by-segment, agg-by-doc, join-back-by-doc: the join of
    # totals to kept_agg reuses the doc_id partitioning, so at most 3
    # unique exchanges appear (segment + the two doc-side inputs), and
    # none may be a full-sort exchange beyond the window's own
    exs = {int(m) for m in _re.findall(r"Exchange \((\d+)\)", p)}
    assert 2 <= len(exs) <= 4, sorted(exs)


def test_metadata_agg_plan_reads_no_files(spark, sf_dir):
    """manifest_metadata_agg: the returned frame is a LocalTableScan —
    literally no file source in the plan (the manifest fold happened
    driver-side on O(#files) JSON entries)."""
    from tinymapreduce_spark.sources.manifest_sink import manifest_metadata_agg

    df = manifest_metadata_agg(spark, sf_dir)
    p = plan_of(df)
    assert "Scan parquet" not in p and "FileScan" not in p, p
    assert df.inputFiles() == []


def test_kn_trigram_partial_aggs_and_no_cartesian(spark, sf_dir):
    """The recursive KN model: every gram count is a hash aggregation
    with map-side partials; the only cross joins broadcast single-row
    scalar totals (never a data-sized cartesian)."""
    from tinymapreduce_spark.operators import textstats

    p = plan_of(textstats.ngram_lm_kn_trigram(spark, sf_dir))
    assert "partial_count" in p or "partial_sum" in p
    assert "CartesianProduct" not in p
    # scalar totals arrive via broadcast nested-loop cross joins only
    assert "BroadcastNestedLoopJoin Cross" in p


def test_vocab_growth_offsets_broadcast(spark, sf_dir):
    """The Heaps-curve plan joins per-doc offsets and the total by
    BROADCAST (they are doc-level/scalar aggregates); the token stream
    itself never sort-merge joins."""
    from tinymapreduce_spark.operators import textstats

    p = plan_of(textstats.vocab_growth_stats(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_pca_scatter_partial_agg_before_collect(spark, sf_dir):
    """The PCA outer-product scatter must partially aggregate map-side
    (the d^2 groupBy) — the driver only ever sees 64x64 finalized
    sums. The query result itself is a local relation (driver
    iteration output)."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1000).cast("long"),
            )
        ).alias("i", "qi"),
    )
    prods = (
        q.alias("a")
        .join(q.alias("b"), F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.qi") * F.col("b.qi")).alias("sxy"))
    )
    p = plan_of(prods)
    assert "partial_sum" in p
    assert "CartesianProduct" not in p


def test_snm_candidates_bounded_join(spark, sf_dir):
    """Sorted-neighborhood candidates come from the rn-range self-join
    — no cartesian product; verification joins are equi-joins on
    doc ids/tokens."""
    from tinymapreduce_spark.operators import dedup

    p = plan_of(dedup.dedup_sorted_neighborhood(spark, sf_dir))
    assert "CartesianProduct" not in p


def test_minhash_clusters_cc_rounds_bounded_and_no_cartesian(spark, sf_dir):
    """dedup_clusters_minhash: the LSH edge generation keeps the exact
    tier's plan discipline (equi-joins only, no Python eval), and the
    star-contraction loop converges in O(log n) driver rounds — pinned
    by counting localCheckpoint materializations during one run (each
    CC round checkpoints once; a linear-chain regression would blow
    past the bound)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from tinymapreduce_spark.operators.dedup import dedup_clusters_minhash, dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    p = plan_of(pairs)
    try:
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    finally:
        pairs.sparkSession.catalog.clearCache()

    calls = {"n": 0}
    real = ClassicDF.localCheckpoint

    def spy(self, eager=True):
        calls["n"] += 1
        return real(self, eager=eager)

    ClassicDF.localCheckpoint = spy
    try:
        out = dedup_clusters_minhash(spark, sf_dir)
        assert out.count() > 0
    finally:
        ClassicDF.localCheckpoint = real
    # sf0.001 clusters are tiny chains: star contraction must finish in
    # well under 12 checkpointed rounds (50 is the hard max_rounds cap)
    assert 0 < calls["n"] <= 12, calls["n"]
