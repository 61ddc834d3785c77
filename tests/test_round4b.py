"""Round-4b additions: recursive CTE, grouped-agg pandas UDAF, training
shard shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.graph_queries import graph_bfs_3hop
from big_data_assignment2_2025_spark.plans.text_queries import training_shuffle_shards
from big_data_assignment2_2025_spark.plans.sql_queries import (
    sql_recursive_reachability,
    udaf_trimmed_mean,
)
from tests.conftest import SF_SMALL


def test_recursive_cte_agrees_with_iterative_bfs(spark):
    # the recursive walk (depth <= 4) must reproduce the unrolled
    # 3-hop BFS exactly on the shared prefix (dist 0..3)
    rec = {
        r["dist"]: r["n_nodes"]
        for r in sql_recursive_reachability(spark, SF_SMALL).collect()
    }
    bfs = {
        r["dist"]: r["n_nodes"] for r in graph_bfs_3hop(spark, SF_SMALL).collect()
    }
    for d, n in bfs.items():
        assert rec[d] == n, (d, rec.get(d), n)


def test_udaf_is_arrow_vectorized_and_matches_sql_form(spark):
    df = udaf_trimmed_mean(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # GROUPED_AGG pandas UDF runs Arrow-vectorized (ArrowAggregatePython
    # in Spark 4.1, AggregateInPandas in earlier lines), never as
    # row-at-a-time BatchEvalPython
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    assert "BatchEvalPython" not in plan

    rows = {r["event_type"]: r for r in df.collect()}
    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    for et, grp in {
        r["event_type"]: r for r in ev.groupBy("event_type").count().collect()
    }.items():
        cents = sorted(
            r["cents"] for r in ev.where(F.col("event_type") == et).collect()
        )
        k = len(cents) // 10
        kept = cents[k : len(cents) - k]
        assert rows[et]["trimmed_mean_cents"] == sum(kept) // len(kept)
        assert rows[et]["n_events"] == len(cents)


def test_training_shuffle_is_partitioning_invariant(spark):
    # the (shard, position) assignment must not depend on physical layout:
    # rerunning under a different shuffle-partition count yields identical
    # shard summaries (md5 keys + total-order window, no rand(), no
    # partition ids)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    a = training_shuffle_shards(spark, SF_SMALL).collect()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = training_shuffle_shards(spark, SF_SMALL).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b
    assert sum(r["n_docs"] for r in a) == (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    )
