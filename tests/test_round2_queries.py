"""Round-2 query families: TPC-H tranche 2 (plans/tpch_queries.py) and the
training-pipeline operators (plans/text_queries.py, dedup_queries.py,
events_queries.py, timeseries_queries.py, relational.py) — value sanity,
cross-operator invariants, and physical-plan audits in the style of
tests/test_plans.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans import QUERIES
from big_data_assignment2_2025_spark.sources.readers import load_table
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# ---------------------------------------------------------------------------
# TPC-H tranche 2: values
# ---------------------------------------------------------------------------


def test_q4_counts_bounded_by_quarter_orders(spark):
    rows = QUERIES["q4_late_order_priority"](spark, SF_SMALL).collect()
    orders = load_table(spark, SF_SMALL, "orders")
    quarter = orders.where(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-04-01").cast("timestamp"))
    ).count()
    assert 0 < sum(r.order_count for r in rows) <= quarter


def test_q13_distribution_accounts_every_customer(spark):
    rows = QUERIES["q13_order_count_distribution"](spark, SF_SMALL).collect()
    n_cust = load_table(spark, SF_SMALL, "customer").count()
    n_orders = load_table(spark, SF_SMALL, "orders").count()
    assert sum(r.custdist for r in rows) == n_cust
    assert sum(r.c_count * r.custdist for r in rows) == n_orders


def test_q14_share_is_a_percentage(spark):
    [row] = QUERIES["q14_promo_revenue_share"](spark, SF_SMALL).collect()
    assert 0.0 <= row.promo_share_pct <= 100.0


def test_q15_returns_the_actual_max(spark):
    rows = QUERIES["q15_top_supplier"](spark, SF_SMALL).collect()
    assert len(rows) >= 1
    assert len({r.total_rev_e4 for r in rows}) == 1  # all tied at the max


def test_q18_threshold_holds(spark):
    rows = QUERIES["q18_large_volume_orders"](spark, SF_SMALL).collect()
    assert all(r.sum_qty > 250 for r in rows)
    # ordered by totalprice desc
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_q22_segments_partition_the_idle_rich(spark):
    rows = QUERIES["q22_idle_rich_customers"](spark, SF_SMALL).collect()
    assert all(r.numcust > 0 for r in rows)
    assert len({r.c_mktsegment for r in rows}) == len(rows)


# ---------------------------------------------------------------------------
# pipeline: invariants
# ---------------------------------------------------------------------------


def test_transitions_count_is_events_minus_users(spark):
    rows = QUERIES["event_transitions"](spark, SF_SMALL).collect()
    ev = load_table(spark, SF_SMALL, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_transitions for r in rows) == n_events - n_users


def test_forward_fill_carries_only_purchase_values(spark):
    df = QUERIES["events_forward_fill"](spark, SF_SMALL)
    ev = load_table(spark, SF_SMALL, "events")
    purchase_vals = {
        r.value for r in ev.where(F.col("event_type") == "purchase").collect()
    }
    filled = {
        r.last_purchase_value
        for r in df.where(F.col("last_purchase_value").isNotNull()).collect()
    }
    assert filled <= purchase_vals
    # rows before any purchase stay NULL
    assert df.where(F.col("last_purchase_value").isNull()).count() > 0


def test_scd2_intervals_chain_per_customer(spark):
    df = QUERIES["scd2_order_price_history"](spark, SF_SMALL)
    # exactly one current (NULL valid_to) row per customer
    per_cust = (
        df.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0)).alias("open"),
        )
        .collect()
    )
    assert all(r.open == 1 for r in per_cust)
    # no interval ends before it starts
    assert df.where(F.col("valid_to") < F.col("valid_from")).count() == 0


def test_data_profile_matches_table(spark):
    rows = {r.col_name: r for r in QUERIES["data_profile_orders"](spark, SF_SMALL).collect()}
    n = load_table(spark, SF_SMALL, "orders").count()
    assert rows["o_orderstatus"].n_rows == n
    assert rows["o_orderstatus"].n_nulls == 0
    assert rows["o_orderpriority"].n_distinct == 5
    assert rows["o_custkey"].min_val.isdigit()


def test_domain_mix_weights_rebalance(spark):
    rows = QUERIES["domain_mix_weights"](spark, SF_SMALL).collect()
    # weighted doc mass is equal per language: n_docs * weight ~ total/n_langs
    masses = [r.n_docs * r.mix_weight for r in rows]
    assert max(masses) - min(masses) < 1e-2 * max(masses)
    assert abs(sum(r.actual_frac for r in rows) - 1.0) < 1e-4


def test_pii_scrub_counts_digits_exactly(spark):
    rows = QUERIES["pii_scrub_stats"](spark, SF_SMALL).collect()
    docs = load_table(spark, SF_SMALL, "documents").collect()
    import re

    expected = {}
    for d in docs:
        expected[d.lang] = expected.get(d.lang, 0) + len(re.findall(r"[0-9]", d.text))
    got = {r.lang: r.chars_removed for r in rows}
    assert got == {k: v for k, v in expected.items()}


def test_contamination_docs_are_test_split(spark):
    import hashlib

    rows = QUERIES["contamination_check"](spark, SF_SMALL).collect()
    for r in rows:
        assert hashlib.md5(str(r.test_doc).encode()).hexdigest()[:2] >= "cd"
        assert r.n_train_docs >= 1 and r.n_shared_shingles >= 1


def test_keep_canonical_never_exceeds_corpus(spark):
    rows = QUERIES["dedup_keep_canonical"](spark, SF_SMALL).collect()
    docs = load_table(spark, SF_SMALL, "documents")
    per_lang = {r.lang: r.n_docs for r in docs.groupBy("lang").agg(F.count("*").alias("n_docs")).collect()}
    kept = {r.lang: r.n_docs_kept for r in rows}
    assert set(kept) == set(per_lang)
    assert all(0 < kept[k] <= per_lang[k] for k in kept)
    # the fixtures plant near-dups, so something must actually be removed
    assert sum(kept.values()) < sum(per_lang.values())


def test_linreg_passes_through_centroid(spark):
    # OLS identity: mean(y) == slope * mean(x) + intercept, exactly
    rows = QUERIES["stats_linreg"](spark, SF_SMALL).collect()
    li = load_table(spark, SF_SMALL, "lineitem")
    stats = {
        r.l_returnflag: (r.mx, r.my)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.avg("l_quantity").alias("mx"),
            F.avg(F.round(F.col("l_extendedprice") * 100)).alias("my"),
        )
        .collect()
    }
    for r in rows:
        mx, my = stats[r.l_returnflag]
        pred = r.slope_cents_per_qty * mx + r.intercept_cents
        assert abs(pred - my) < 1e-2 * abs(my)


def test_mode_is_the_argmax(spark):
    rows = QUERIES["mode_priority_by_status"](spark, SF_SMALL).collect()
    orders = load_table(spark, SF_SMALL, "orders")
    counts = (
        orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    best = {}
    for r in counts:
        cur = best.get(r.o_orderstatus)
        key = (-r.n, r.o_orderpriority)
        if cur is None or key < cur[0]:
            best[r.o_orderstatus] = (key, r.o_orderpriority, r.n)
    for r in rows:
        assert r.modal_priority == best[r.o_orderstatus][1]
        assert r.n_orders == best[r.o_orderstatus][2]


# ---------------------------------------------------------------------------
# plan audits (the 100 TB story)
# ---------------------------------------------------------------------------


def test_q4_is_a_semi_join(spark):
    plan = _plan(spark, "q4_late_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the quarter filter reaches the orders parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q10_topk_and_broadcast_dims(spark):
    plan = _plan(spark, "q10_returned_revenue")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # pushed to the lineitem scan


def test_q19_disjunction_keeps_equi_join(spark):
    plan = _plan(spark, "q19_disjunctive_revenue")
    # the OR-of-ANDs must NOT degrade the equi-join into a nested loop
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_anti_join_shape(spark):
    plan = _plan(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    # the recent-orders date filter is pushed down
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_contamination_no_cross_product(spark):
    plan = _plan(spark, "contamination_check")
    assert "CartesianProduct" not in plan


def test_forward_fill_single_user_shuffle(spark):
    plan = _plan(spark, "events_forward_fill")
    assert plan.count("hashpartitioning(user_id") == 1
    assert "rangepartitioning" not in plan
