"""Plan-shape tests for the bucketed-table registry queries
(`plans/storage_queries.py`): the value of bucketing IS the plan shape —
results are hash-gated by the oracle gate, these assert the shuffle was
actually eliminated.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.storage_queries import (
    bucketed_agg_no_shuffle,
    bucketed_join_colocated,
    bucketed_table,
)
from big_data_assignment2_2025_spark.sources.readers import scratch_dir
from tests.conftest import SF_SMALL


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_sides_not_shuffled(spark):
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = bucketed_table(spark, SF_SMALL, "orders", "o_custkey")
        customer = bucketed_table(spark, SF_SMALL, "customer", "c_custkey")
        joined = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        plan = _plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_bucketed_join_query_single_exchange(spark):
    # the registry query's only shuffle is the 5-group segment rollup
    # AFTER the join; the join itself reads co-located buckets
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(bucketed_join_colocated(spark, SF_SMALL))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_part


def test_bucketed_agg_has_zero_exchange(spark):
    df = bucketed_agg_no_shuffle(spark, SF_SMALL)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "HashAggregate" in plan
    assert "Bucketed: true" in plan


def test_partitioned_scan_prunes_at_planning_time(spark):
    from big_data_assignment2_2025_spark.plans.storage_queries import (
        partitioned_scan_pruned,
    )

    df = partitioned_scan_pruned(spark, SF_SMALL)
    plan = _plan(df)
    tail = plan.split("PartitionFilters", 1)[1][:200]
    assert "lang" in tail
    # the partition-column predicate must NOT appear as a data filter —
    # it is resolved against directory names before any file is opened
    assert "PushedFilters: []" in plan


def test_bucketed_agg_matches_unbucketed(spark):
    bucketed = {
        r["o_custkey"]: (r["n_orders"], r["spend_cents"])
        for r in bucketed_agg_no_shuffle(spark, SF_SMALL).collect()
    }
    plain = {
        r["o_custkey"]: (r["n_orders"], r["spend_cents"])
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "spend_cents"
            ),
        )
        .collect()
    }
    assert bucketed == plain


def test_analyze_table_populates_catalog_stats(spark):
    # catalog tables (unlike temp views) can carry ANALYZE statistics —
    # the input Catalyst's size estimates and join planning consume
    bucketed_table(spark, SF_SMALL, "orders", "o_custkey")
    name = os.path.basename(scratch_dir(SF_SMALL, "bkt_orders_o_custkey_8"))
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    stats = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {name}").collect()
    }
    assert "Statistics" in stats
    assert "rows" in stats["Statistics"]  # e.g. "123456 bytes, 1500 rows"


def test_cache_table_plans_in_memory_scan(spark):
    # SQL-surface caching: a cached view's consumers read columnar
    # InMemoryTableScan batches instead of re-running the subtree — the
    # interactive-session accelerator (distinct from bucketing, which is
    # durable layout)
    spark.read.parquet(f"{SF_SMALL}/customer.parquet").createOrReplaceTempView(
        "cust_cache_probe"
    )
    spark.sql("CACHE TABLE cust_cache_probe")
    try:
        df = spark.sql(
            "SELECT c_mktsegment, COUNT(*) AS n FROM cust_cache_probe "
            "GROUP BY c_mktsegment"
        )
        plan = _plan(df)
        assert "In-memory table" in plan or "InMemoryTableScan" in plan
        assert df.count() == 5
    finally:
        spark.sql("UNCACHE TABLE cust_cache_probe")
    plan_after = _plan(
        spark.sql("SELECT COUNT(*) FROM cust_cache_probe")
    )
    assert "In-memory table" not in plan_after and "InMemoryRelation" not in plan_after


def test_schema_evolution_old_files_surface_nulls(spark, sf_dir):
    """v1 files predate o_orderpriority/o_channel: mergeSchema must
    surface them as NULL for pre-1998 rows and populated after."""
    from big_data_assignment2_2025_spark.plans.storage_queries import (
        orders_schema_evolution_scan,
    )

    rows = orders_schema_evolution_scan(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        if r["year"] < 1998:
            assert r["n_with_priority"] == 0 and r["n_with_channel"] == 0
        else:
            assert r["n_with_priority"] == r["n_orders"]
            assert r["n_with_channel"] == r["n_orders"]
