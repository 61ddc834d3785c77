"""Unit tests for the round-3 tranche (skyline and weighted median in
plans/relational.py, interval merge and islands in plans/temporal_queries.py,
PageRank and BFS in plans/graph_queries.py, gap-fill in
plans/timeseries_queries.py): golden
checks on handcrafted inputs for the operators whose correctness is easy to
get subtly wrong (skyline dominance ties, interval-merge boundary touching,
islands runs, fixed-point PageRank), plus plan-shape assertions for the
scale-critical choices (skyline must not be quadratic; gap-fill calendar
must broadcast). The DuckDB oracle gate covers the full-fixture differential
checks; these tests pin the semantics independently of the oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.graph_queries import (
    graph_bfs_3hop,
    graph_pagerank_topk,
)
from big_data_assignment2_2025_spark.plans.relational import (
    skyline_parts,
    weighted_median_price,
)
from big_data_assignment2_2025_spark.plans.temporal_queries import (
    interval_merge_coverage,
    islands_active_days,
)
from big_data_assignment2_2025_spark.plans.timeseries_queries import (
    orders_daily_gapfill,
)


def _skyline_of(spark, rows):
    """Run the skyline QUERY SHAPE against an in-memory part table."""
    df = spark.createDataFrame(
        rows, "p_partkey long, p_size int, p_retailprice double"
    )
    p = df.select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    from pyspark.sql import Window as W

    by_size = p.groupBy("p_size").agg(F.min("price_cents").alias("min_at_size"))
    w = W.orderBy(F.desc("p_size")).rowsBetween(W.unboundedPreceding, -1)
    suffix = by_size.withColumn("min_above", F.min("min_at_size").over(w))
    sky = (
        p.join(F.broadcast(suffix), "p_size")
        .where(
            (F.col("price_cents") == F.col("min_at_size"))
            & (
                F.col("min_above").isNull()
                | (F.col("min_above") > F.col("price_cents"))
            )
        )
        .select("p_partkey")
    )
    return {r.p_partkey for r in sky.collect()}


def test_skyline_dominance_and_ties(spark):
    rows = [
        (1, 10, 5.00),  # skyline: biggest size, cheapest at that size
        (2, 10, 5.00),  # duplicate point: neither dominates -> both kept
        (3, 10, 6.00),  # same size, more expensive -> dominated by 1
        (4, 5, 5.00),   # same price as 1 but smaller -> dominated (strict size)
        (5, 5, 4.00),   # cheaper than everything larger -> skyline
        (6, 1, 4.00),   # same price as 5, smaller size -> dominated
        (7, 1, 1.00),   # cheapest overall -> skyline
    ]
    assert _skyline_of(spark, rows) == {1, 2, 5, 7}


def test_skyline_plan_is_not_quadratic(spark, sf_dir):
    plan = (
        skyline_parts(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_interval_merge_golden(spark, monkeypatch):
    # users: 1 -> two touching/overlapping intervals + one distant;
    # 2 -> single event. Events 30 min apart chain into one block.
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base),                                   # [0, 30m]
        (1, base + dt.timedelta(minutes=30)),        # touches: s == prev end
        (1, base + dt.timedelta(hours=5)),           # new block
        (2, base),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    monkeypatch.setattr(
        "big_data_assignment2_2025_spark.plans.temporal_queries.load_table",
        lambda s, d, n: ev,
    )
    got = {
        r.user_id: (r.n_blocks, r.covered_us)
        for r in interval_merge_coverage(spark, "ignored").collect()
    }
    # user 1: block [0, 60m] (s == prev_end merges: `>` strictly opens new)
    # + block [5h, 5h30m] => 90 min covered total
    assert got[1] == (2, 90 * 60 * 1000000)
    assert got[2] == (1, 30 * 60 * 1000000)


def test_islands_golden(spark, monkeypatch):
    import datetime as dt

    d = lambda day, h=3: dt.datetime(2024, 1, day, h, 0, 0)
    rows = [
        (1, d(1)), (1, d(2)), (1, d(3)),   # 3-day streak
        (1, d(2, 23)),                     # same day, second event: no-op
        (1, d(10)),                        # singleton island
        (2, d(5)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    monkeypatch.setattr(
        "big_data_assignment2_2025_spark.plans.temporal_queries.load_table",
        lambda s, d_, n: ev,
    )
    got = {
        r.user_id: (r.n_islands, r.longest_streak)
        for r in islands_active_days(spark, "ignored").collect()
    }
    assert got[1] == (2, 3)
    assert got[2] == (1, 1)


def test_pagerank_fixed_point_star_graph(spark, monkeypatch):
    """Star K1,3 via orders: center part 100 co-purchased with 101/102/103.
    Degrees: center 3, leaves 1. Hand-computed fixed-point iteration:
      r0 = 1_000_000 for all
      leaf:   s = 1_000_000 // 3 = 333_333 -> r1 = 150000 + 85*333333//100
      center: s = 3 * 1_000_000            -> r1 = 150000 + 85*3000000//100
    and so on for three rounds — the center must rank first."""
    rows = []
    # each leaf shares 2 orders with the center (support threshold = 2)
    ok = 0
    for leaf in (101, 102, 103):
        for _ in range(2):
            rows += [(ok, 100), (ok, leaf)]
            ok += 1
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(
        "big_data_assignment2_2025_spark.plans.graph_queries.load_table",
        lambda s, d, n: li,
    )

    def step(r, deg):
        return {
            v: 150000 + (85 * s) // 100
            for v, s in {
                v: sum(r[u] // deg[u] for u in nbrs)
                for v, nbrs in {
                    100: [101, 102, 103],
                    101: [100],
                    102: [100],
                    103: [100],
                }.items()
            }.items()
        }

    deg = {100: 3, 101: 1, 102: 1, 103: 1}
    r = {n: 1000000 for n in deg}
    for _ in range(3):
        r = step(r, deg)
    got = {row.node: row.pr for row in graph_pagerank_topk(spark, "ignored").collect()}
    assert got == r
    assert max(got, key=lambda n: (got[n], -n)) == 100


def test_bfs_3hop_path_graph(spark, monkeypatch):
    """Path 1-2-3-4-5 (each edge = 2 shared orders). BFS from node 1:
    dist 0:{1} 1:{2} 2:{3} 3:{4}; node 5 is beyond 3 hops and absent."""
    rows = []
    ok = 0
    for a, b in [(1, 2), (2, 3), (3, 4), (4, 5)]:
        for _ in range(2):
            rows += [(ok, a), (ok, b)]
            ok += 1
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(
        "big_data_assignment2_2025_spark.plans.graph_queries.load_table",
        lambda s, d, n: li,
    )
    got = {r_.dist: r_.n_nodes for r_ in graph_bfs_3hop(spark, "ignored").collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 1}


def test_gapfill_calendar_broadcasts(spark, sf_dir):
    plan = (
        orders_daily_gapfill(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the generated 90-row calendar must be on a broadcast join, and the
    # orders aggregate must not be re-shuffled into a sort-merge join
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_median_golden(spark, monkeypatch):
    # weights: price 100 w=1, 200 w=2, 300 w=1 -> total 4, half 2 ->
    # smallest price with 2*cumw >= 4 is 200
    rows = [
        ("A", 1.00, 1.0),
        ("A", 2.00, 2.0),
        ("A", 3.00, 1.0),
    ]
    li = spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double, l_quantity double"
    )
    monkeypatch.setattr(
        "big_data_assignment2_2025_spark.plans.relational.load_table",
        lambda s, d, n: li,
    )
    row = weighted_median_price(spark, "ignored").collect()[0]
    assert (row.weighted_median_cents, row.total_weight) == (200, 4)


def test_python_datasource_calendar(spark):
    from big_data_assignment2_2025_spark.sources.pyds import CalendarDataSource

    spark.dataSource.register(CalendarDataSource)
    cal = spark.read.format("calendar").option("year", "1996").load()
    rows = cal.collect()
    assert len(rows) == 366  # 1996 is a leap year
    feb = [r for r in rows if r.month == 2]
    assert len(feb) == 29
    assert all(r.is_weekend == (r.isodow >= 6) for r in rows)


def test_observe_metrics_match_aggregate(spark, sf_dir):
    """df.observe(): accumulator-style metrics collected DURING an action
    (no second pass over the data) must equal a separate aggregation —
    the production pattern for row-count/quality counters on 100 TB runs
    where a dedicated metrics scan would double the cost."""
    from pyspark.sql import Observation

    from big_data_assignment2_2025_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("li_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()
    want = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("c"),
    ).first()
    assert obs.get["n_rows"] == want["n"]
    assert obs.get["cents"] == want["c"]
