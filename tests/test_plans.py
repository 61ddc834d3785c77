"""Physical-plan audits: assert the plans we designed for are the plans
Catalyst actually produces (pushdown reaching parquet, broadcast joins on
small sides, distributed top-k, no accidental cartesian products). These are
regression tests for the 100 TB story — a silent plan change that drops a
pushed filter or turns a broadcast join into a cross product would pass the
value-correctness gate but die at scale.
"""

from __future__ import annotations

import pytest

from big_data_assignment2_2025_spark.plans import QUERIES
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "filter_in_list")
    assert "PushedFilters:" in plan
    assert "In(p_brand" in plan
    assert "GreaterThanOrEqual(p_size,5)" in plan


def test_q3_pushdown_and_broadcast(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bm25_plan_shape(spark):
    plan = _plan(spark, "bm25_search")
    # distributed top-k, not a global sort
    assert "TakeOrderedAndProject" in plan
    # NB: formatted explain mentions each operator twice (tree + detail)
    # vocab + doc_info joins are broadcast
    assert plan.count("BroadcastHashJoin") >= 4
    # the corpus stats are literals, not a nested-loop join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan  # TakeOrdered subsumes sort+limit


def test_minhash_no_cross_product(spark):
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_shares_one_user_shuffle(spark):
    plan = _plan(spark, "events_sessionize")
    # the analytic window and the per-session groupBy reuse the same
    # hashpartitioning(user_id...) exchange: exactly one such shuffle, and
    # no rangepartitioning (no global sort in the plan)
    n = plan.count("hashpartitioning(user_id")
    assert n == 1, f"expected 1 user_id shuffle, plan has {n}"
    assert "rangepartitioning" not in plan


def test_whole_stage_codegen_on_hot_path(spark):
    # 'codegen' explain mode compiles the plan and reports its spans; the
    # un-executed AdaptiveSparkPlan hides them, so turn AQE off for the probe
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["q1_pricing_summary"](spark, SF_SMALL)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "codegen"
        )
        s = df._jdf.queryExecution().explainString(mode)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in s
    assert "Found 0 WholeStageCodegen" not in s


@pytest.mark.parametrize("name", ["ann_bruteforce_topk", "embedding_neardup"])
def test_similarity_broadcasts_small_side(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_fuzzy_match_is_blocked_equi_join(spark):
    # the levenshtein filter must ride an equi-join on the blocking key,
    # never a cartesian pair space
    plan = _plan(spark, "fuzzy_name_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan.lower()


def test_stats_corr_single_aggregation_exchange(spark):
    # all five moment sums ride ONE partial/final aggregate pair: exactly
    # one exchange in the plan tree (formatted output names each node once
    # in the tree and once in details => count == 2)
    plan = _plan(spark, "stats_corr")
    assert plan.count("Exchange") == 2, plan[:1500]


def test_funnel_no_cartesian(spark):
    # stage joins are all keyed on user_id; the final 3-way combine of
    # 1-row aggregates may nested-loop (deliberate, 1x1x1 rows)
    plan = _plan(spark, "events_funnel")
    assert "CartesianProduct" not in plan


def test_sliding_window_no_join(spark):
    # window(ts, 1h, 15m) must expand memberships in the projection, not
    # via a self-join or explode-join
    plan = _plan(spark, "events_sliding_window")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 4  # one agg exchange (+ sort for orderBy)


def test_doc_chunk_no_shuffle(spark):
    # chunking is projection-only: no Exchange anywhere in the plan (the
    # sort for display-ordering is allowed to add one at most)
    plan = _plan(spark, "doc_chunk_overlap")
    assert "CartesianProduct" not in plan
    # explode + slice must not introduce a hash shuffle
    assert "Exchange hashpartitioning" not in plan


def test_q8_star_is_broadcast_only(spark):
    # every dimension broadcasts; the only shuffled join may be the
    # lineitem-orders equi-join (at fixture scale AQE may broadcast even
    # that, so assert the negative: no shuffled join on a dimension key,
    # no cartesian)
    plan = _plan(spark, "q8_market_share")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_triangle_count_no_cartesian(spark):
    plan = _plan(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snapshot_diff_single_join(spark):
    # the diff is ONE full-outer join on the key; classification is a
    # projection on top — no second join, no cartesian
    plan = _plan(spark, "snapshot_diff")
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 1
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
