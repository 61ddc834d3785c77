"""Relational operator surface and analytics over the TPC-H-ish synthetic
tables (SURVEY.md §7 step 3): filters/projections, every join flavor, hash
aggregations, distinct, set ops, sort/limit/top-k, grouping sets/rollup/
cube, pivot/unpivot, window functions, subquery patterns, and the
composite analytics built from them (segmentation, profiling and audits,
sampling, change capture and view refresh, privacy checks).

Everything is stock DataFrame API — Catalyst supplies pushdown, pruning,
join selection (broadcast hints added where a side is provably small) and
TakeOrderedAndProject for top-k.

Float determinism contract (applies to every oracle-checked query here):
- SUM over non-integral doubles goes through ``decimal`` on BOTH sides —
  decimal addition is exact, so the result does not depend on Spark's
  partial-aggregation order, and the final cast-to-double is identical in
  Spark and DuckDB.
- ``l_quantity`` is integral-valued, so plain double sums are exact.
- Orderings that feed LIMIT carry a full tie-break key set.
- Hashing is md5-derived (portable); every DuckDB integer SUM is
  CAST(... AS BIGINT).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.materialize import materialize
from ..sources.readers import load_table
from .tpch_queries import _dec


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.max(_dec("o_totalprice")).cast("double").alias("max_price"),
        F.min(_dec("o_totalprice")).cast("double").alias("min_price"),
    )


AGG_DISTINCT_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price
FROM orders GROUP BY o_orderpriority
"""


def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy + HAVING (post-aggregation filter)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n_lines"), F.sum("l_quantity").alias("total_qty"))
        .where(F.col("n_lines") > 30)
    )


HAVING_SQL = """
SELECT l_partkey, COUNT(*) AS n_lines, SUM(l_quantity) AS total_qty
FROM lineitem GROUP BY l_partkey HAVING COUNT(*) > 30
"""


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
    )


PIVOT_SQL = """
SELECT c_mktsegment,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def unpivot_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack() (SURVEY.md common-pattern list)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice)"
        ).alias("attr", "val"),
    )


UNPIVOT_SQL = """
SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
"""


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order counts including zero-order customers (Q13 shape)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


JOIN_LEFT_SQL = """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers having at least one 'F' order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: parts never shipped."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


JOIN_ANTI_SQL = """
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer: nations present in customer vs supplier bases."""
    cust_n = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_supp"))
    )
    return cust_n.join(
        supp_n, cust_n.c_nationkey == supp_n.s_nationkey, "full_outer"
    ).select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


JOIN_FULL_SQL = """
WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
"""


def cross_join_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global scalar folded into a filter via crossJoin(broadcast(...)) —
    the J4 pattern (reference lit(total_docs)); MAX is exact on doubles so
    the comparison is deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_extendedprice").alias("max_price"))
    return (
        orders.crossJoin(F.broadcast(mx))
        .where(F.col("o_totalprice") > F.col("max_price"))
        .select("o_orderkey", "o_totalprice")
    )


CROSS_SCALAR_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > (SELECT MAX(l_extendedprice) FROM lineitem)
"""


def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders strictly above their customer's max other... simplified:
    orders equal to their customer's most expensive order (per-group max,
    exact double comparison)."""
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.groupBy("o_custkey").agg(F.max("o_totalprice").alias("cust_max"))
    return (
        orders.join(mx, "o_custkey")
        .where(F.col("o_totalprice") == F.col("cust_max"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


CORRELATED_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
                      WHERE o2.o_custkey = o.o_custkey)
"""


# ---------------------------------------------------------------------------
# Filters / projections / set ops / dedup / top-k
# ---------------------------------------------------------------------------

def filter_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sargable IN-list + range predicate (the P3/P4 pattern) — pushed to
    the parquet scan."""
    part = load_table(spark, sf_dir, "part")
    return part.where(
        F.col("p_brand").isin("Brand#1", "Brand#3") & (F.col("p_size") >= 5)
    ).select("p_partkey", "p_name", "p_brand", "p_size")


FILTER_IN_SQL = """
SELECT p_partkey, p_name, p_brand, p_size FROM part
WHERE p_brand IN ('Brand#1', 'Brand#3') AND p_size >= 5
"""


def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.where(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.unionByName(b)


SET_UNION_SQL = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
"""


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.where(F.col("c_acctbal") > 0).select("c_custkey")
    return a.intersect(b)


SET_INTERSECT_SQL = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > 0
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.select("c_custkey").exceptAll(
        orders.select(F.col("o_custkey").alias("c_custkey"))
    ).distinct()


SET_EXCEPT_SQL = """
SELECT DISTINCT c_custkey FROM (
  SELECT c_custkey FROM customer
  EXCEPT ALL
  SELECT o_custkey AS c_custkey FROM orders
)
"""


def dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select("c_nationkey", "c_mktsegment").distinct()


DEDUP_DISTINCT_SQL = """
SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
"""


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject, no full sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(15)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15
"""


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per market segment (row_number)."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
    )


WINDOW_TOPK_SQL = """
SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) WHERE rn <= 3
"""


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running quantity per supplier over ship order (cumulative frame).
    l_quantity is integral -> exact double accumulation on both engines.

    The synthetic lineitem does NOT have unique (l_orderkey,
    l_linenumber) pairs (~20% duplicated), so the order key carries
    l_quantity too: rows that still tie then hold EQUAL quantities, so
    every tie permutation yields the same running values and the output
    multiset is engine-independent. Caught by the r12 skew-fixture
    sweep — hot suppliers concentrated the duplicate pairs into one
    window partition and the old ordering diverged cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_suppkey") <= 3)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w).alias("running_qty"),
    )


WINDOW_RUNNING_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       SUM(l_quantity) OVER (PARTITION BY l_suppkey
                             ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                      l_quantity
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
FROM lineitem WHERE l_suppkey <= 3
"""


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next order price per customer over order date."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 20)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
    )


WINDOW_LAG_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       LAG(o_totalprice, 1)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
FROM orders WHERE o_custkey <= 20
"""


def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return part.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


WINDOW_RANK_SQL = """
SELECT p_brand, p_partkey, p_retailprice,
       RANK()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_rank,
       DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_dense_rank
FROM part
"""


# ---------------------------------------------------------------------------
# Scalar function surface
# ---------------------------------------------------------------------------


def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles/median per group (Spark ``percentile`` == DuckDB
    ``quantile_cont`` with linear interpolation) plus stddev — the numeric
    profiling aggregates the reference lacks entirely (SURVEY §2.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.9)"), 4).alias("p90_price"),
            F.round(F.stddev_samp(price), 4).alias("sd_price"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


PERCENTILE_SQL = """
SELECT l_returnflag,
       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS median_price,
       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS p90_price,
       round(stddev_samp(CAST(l_extendedprice AS DOUBLE)), 4) AS sd_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO emulation (operators/merge.py): a staging set of
    updates (every 10th order gets +100.00 and status 'U') and inserts
    (negated keys for orderkey % 17 == 3) merged into orders in ONE
    full-outer shuffle join. Updates are additive (+100.0 is an exact IEEE
    double op) so no cross-engine rounding is involved."""
    from ..operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderstatus",
    )
    updates = target.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    inserts = target.where(F.col("o_orderkey") % 17 == 3).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    staging = updates.unionByName(inserts)
    return merge_upsert(target, staging, on=["o_orderkey"])


MERGE_UPSERT_SQL = """
WITH target AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
         o_orderstatus
  FROM orders),
staging AS (
  SELECT o_orderkey, o_custkey, o_totalprice + 100.0 AS o_totalprice,
         'U' AS o_orderstatus
  FROM target WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -o_orderkey, o_custkey, o_totalprice, 'N'
  FROM target WHERE o_orderkey % 17 = 3)
SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
       COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
       COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
       CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
              THEN 'update'
            WHEN t.o_orderkey IS NULL THEN 'insert'
            ELSE 'keep' END AS merge_action
FROM target t FULL OUTER JOIN staging s ON t.o_orderkey = s.o_orderkey
"""


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile / percent_rank / cume_dist over
    customer balances per market segment — computed WITHOUT a per-segment
    window: a segment is ~20% of the customer dimension and grows with the
    data, so ``Window.partitionBy(c_mktsegment)`` is a straggler at 1e9
    customers. ``operators.ranking.with_partitioned_ranks`` delivers the
    exact per-segment rank and segment size with every window partitioned
    by (segment, range-bucket); the three distribution functions are then
    closed-form in (rank, n): the ordering key includes custkey so the
    order is total, making rank == row_number and percent_rank/cume_dist
    the exact rationals (rank-1)/(n-1) and rank/n in the same IEEE double
    division DuckDB performs. The metric key is exact integer cents
    (acctbal has 2 decimals), monotone with the (acctbal, custkey) order.
    """
    from ..operators.ranking import (
        NtileSpec,
        _tile_of_rank_col,
        with_partitioned_ranks,
    )

    cust = load_table(spark, sf_dir, "customer")
    ranked = with_partitioned_ranks(
        cust,
        "c_mktsegment",
        NtileSpec(
            "bal",
            F.round(F.col("c_acctbal") * 100).cast("long"),
            [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
        ),
        rank_col="__r",
        count_col="__n",
    )
    r, n = F.col("__r"), F.col("__n")
    return ranked.select(
        "c_custkey",
        "c_mktsegment",
        _tile_of_rank_col(r, n, 4).alias("bal_quartile"),
        F.round(
            F.when(n > 1, (r - 1).cast("double") / (n - 1)).otherwise(0.0), 6
        ).alias("bal_pct_rank"),
        F.round(r.cast("double") / n, 6).alias("bal_cume_dist"),
    )


WINDOW_DISTRIBUTION_SQL = """
SELECT c_custkey, c_mktsegment,
       NTILE(4) OVER w AS bal_quartile,
       round(PERCENT_RANK() OVER w, 6) AS bal_pct_rank,
       round(CUME_DIST() OVER w, 6) AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
"""


def stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag —
    computed from EXACT integer moment sums, not ``F.corr``.

    Native corr/covar are single-pass float accumulations whose result
    depends on partition/summation order, so they can never hash-match a
    serial engine. Here the 2-decimal price is scaled to integer cents
    (correlation is scale-invariant, the factor cancels), all five moment
    sums are exact integers (decimal(38,0) on Spark, HUGEINT on DuckDB —
    different exact representations of the SAME integers), and the closing
    float formula runs the identical IEEE op sequence on both engines.
    Distributed-wise this is ONE map-side-combinable aggregation — exactly
    what F.corr does internally, minus the order sensitivity.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * d("y")).alias("sxy"),
        F.sum(d("x") * d("x")).alias("sx2"),
        F.sum(d("y") * d("y")).alias("sy2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double")
    # no presentation orderBy: it would add a rangepartitioning exchange for
    # a 3-row result (the gate compares order-insensitively)
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / (F.sqrt(varx) * F.sqrt(vary)), 6).alias("qty_price_corr"),
    )


STATS_CORR_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sx2,
         SUM(CAST(y AS HUGEINT) * y) AS sy2
  FROM s GROUP BY l_returnflag)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))), 6) AS qty_price_corr
FROM m
ORDER BY l_returnflag
"""


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution shape: candidate pairs via a blocking key (nation),
    verified by edit distance — the classic fuzzy-dedup plan. The equi-join
    on the block key is what makes this scale (never an unblocked N²
    cross-product; same principle as the LSH band join in operators/dedup);
    levenshtein runs only inside blocks."""
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_name"
    )
    a = sup.select(
        F.col("s_suppkey").alias("k1"),
        F.col("s_nationkey").alias("nation"),
        F.col("s_name").alias("n1"),
    )
    b = sup.select(
        F.col("s_suppkey").alias("k2"),
        F.col("s_nationkey").alias("nation"),
        F.col("s_name").alias("n2"),
    )
    return (
        a.join(b, "nation")
        .where(F.col("k1") < F.col("k2"))
        .withColumn("edit_dist", F.levenshtein("n1", "n2"))
        .where(F.col("edit_dist") <= 2)
        .select("nation", "k1", "k2", "edit_dist")
    )


FUZZY_NAME_SQL = """
SELECT a.s_nationkey AS nation, a.s_suppkey AS k1, b.s_suppkey AS k2,
       levenshtein(a.s_name, b.s_name) AS edit_dist
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 2
"""


def gini_balance_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of positive account balances per
    market segment — the inequality metric of a numeric distribution, via
    the sorted-rank formula G = (2*Σ(i*x_i) - (n+1)*Σx) / (n*Σx).

    Portability: balances are 2-decimal -> exact integer cents; ranks come
    from a total-order window; numerator and denominator are computed fully
    in int64 (no overflow: rank*cents <= 3e10 per row) so the ONLY float
    operation is the final division — bit-identical everywhere. One window
    shuffle + one aggregation on the same key."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0)
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cents").asc(), F.col("c_custkey").asc()
    )
    ranked = cust.select(
        "c_mktsegment", "c_custkey", cents.alias("cents")
    ).withColumn("i", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s0"),
        F.sum(F.col("i") * F.col("cents")).alias("s1"),
    )
    num = 2 * F.col("s1") - (F.col("n") + 1) * F.col("s0")
    den = F.col("n") * F.col("s0")
    return agg.select(
        "c_mktsegment",
        F.col("n").alias("n_customers"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("gini"),
    ).orderBy("c_mktsegment")


GINI_SQL = """
WITH c AS (
  SELECT c_mktsegment, c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer WHERE c_acctbal > 0),
r AS (
  SELECT c_mktsegment, cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                 ORDER BY cents ASC, c_custkey ASC) AS BIGINT) AS i
  FROM c),
a AS (
  SELECT c_mktsegment, COUNT(*) AS n, SUM(cents) AS s0, SUM(i * cents) AS s1
  FROM r GROUP BY c_mktsegment)
SELECT c_mktsegment, n AS n_customers,
       round(CAST(2 * s1 - (n + 1) * s0 AS DOUBLE)
             / CAST(n * s0 AS DOUBLE), 6) AS gini
FROM a
ORDER BY c_mktsegment
"""


def division_full_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("for all"): suppliers who supply EVERY size-1
    part of Brand#1. Expressed as count-matching — distinct supplied target
    parts per supplier == total target parts — which is one broadcast of a
    single scalar plus one aggregation, instead of the textbook double
    NOT EXISTS (two correlated anti-joins)."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") == 1)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    total = part.agg(F.count("*").alias("n_target"))
    covered = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_partkey").alias("n_supplied"))
    )
    return (
        covered.crossJoin(F.broadcast(total))
        .where(F.col("n_supplied") == F.col("n_target"))
        .select(F.col("l_suppkey").alias("s_suppkey"), "n_supplied")
    )


DIVISION_SQL = """
WITH target AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#1' AND p_size = 1),
covered AS (
  SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_supplied
  FROM lineitem JOIN target ON l_partkey = p_partkey
  GROUP BY l_suppkey)
SELECT l_suppkey AS s_suppkey, n_supplied
FROM covered
WHERE n_supplied = (SELECT COUNT(*) FROM target)
"""


def revenue_growth_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly sums in exact integer cents,
    lag window over months, growth ratio as the single float op. The window
    runs over an already-aggregated ~tens-of-rows frame — the shuffle heavy
    lifting happened in the month rollup."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("rev_cents")
        )
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev_cents", F.lag("rev_cents").over(w))
        .select(
            "month",
            "rev_cents",
            F.round(
                F.col("rev_cents").cast("double")
                / F.col("prev_cents").cast("double")
                - 1.0,
                6,
            ).alias("growth"),
        )
        .orderBy("month")
    )


REVENUE_GROWTH_SQL = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1)
SELECT month, rev_cents,
       round(CAST(rev_cents AS DOUBLE)
             / CAST(LAG(rev_cents) OVER (ORDER BY month) AS DOUBLE) - 1.0,
             6) AS growth
FROM m
ORDER BY month
"""


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-occurring in the same order,
    kept when seen in >= 3 orders, top-25 by support. The self-join key is
    the order — pair fan-out is bounded by order size squared (TPC-H orders
    hold <= 7 lineitems), so the join is linear in orders, never parts²."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select("l_orderkey", F.col("l_partkey").alias("part1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part2"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part1") < F.col("part2"))
        .groupBy("part1", "part2")
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") >= 3)
        .orderBy(F.col("n_orders").desc(), F.col("part1").asc(), F.col("part2").asc())
        .limit(25)
    )


BASKET_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part1, b.l_partkey AS part2, COUNT(*) AS n_orders
FROM li a JOIN li b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING COUNT(*) >= 3
ORDER BY n_orders DESC, part1 ASC, part2 ASC
LIMIT 25
"""


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring: recency (days since last order), frequency
    (order count), monetary (exact cent sum), each cut into quartiles over
    a TOTAL order (custkey tiebreak) — the standard marketing segmentation
    rollup.

    Scale shape: the quartiles are positional-NTILE-exact but computed via
    ``operators.ranking.with_global_ntiles`` — range-bucket boundaries from
    ``percentile_approx`` embedded as literals, per-bucket counts folded
    into literal rank offsets, ``row_number`` over windows PARTITIONED by
    bucket. No unpartitioned window anywhere, so the customer dimension is
    never funneled through a single sort; the oracle keeps plain NTILE and
    the results are bit-identical (the positional tile rule is engine-
    independent given the total order)."""
    from ..operators.ranking import NtileSpec, with_global_ntiles

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    scored = with_global_ntiles(
        per_cust,
        [
            # recency (a few thousand distinct dates) and frequency (a few
            # dozen distinct counts) are tie-heavy -> composite boundaries
            # via sub_key so tie groups split across buckets; monetary is
            # near-unique and metric-only boundaries suffice
            NtileSpec(
                "r_score",
                -F.unix_date("last_order"),
                [F.col("last_order").desc(), F.col("o_custkey").asc()],
                sub_key=F.col("o_custkey"),
            ),
            NtileSpec(
                "f_score",
                -F.col("frequency"),
                [F.col("frequency").desc(), F.col("o_custkey").asc()],
                sub_key=F.col("o_custkey"),
            ),
            NtileSpec(
                "m_score",
                -F.col("monetary_cents"),
                [F.col("monetary_cents").desc(), F.col("o_custkey").asc()],
            ),
        ],
        n_tiles=4,
    )
    return scored.select(
        F.col("o_custkey").alias("c_custkey"),
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
    )


RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_order,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey)
SELECT o_custkey AS c_custkey, frequency, monetary_cents,
       NTILE(4) OVER (ORDER BY last_order DESC, o_custkey ASC) AS r_score,
       NTILE(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
       NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m_score
FROM per_cust
"""


# ---------------------------------------------------------------------------
# Slowly-changing-dimension (type 2) history build
# ---------------------------------------------------------------------------

def scd2_order_price_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval build: each customer's order stream becomes a validity
    history — every order's totalprice is the customer's 'state' from its
    orderdate until the next order (NULL = still current). lead() over the
    customer partition is the whole algorithm; at warehouse scale this is
    the standard one-shuffle dimension-history derivation (no per-row
    merge loop)."""
    orders = load_table(spark, sf_dir, "orders")
    by_cust = W.partitionBy("o_custkey").orderBy("valid_from", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
    ).withColumn("valid_to", F.lead("valid_from").over(by_cust))


SCD2_PRICE_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS valid_to
FROM orders
"""


# ---------------------------------------------------------------------------
# Exact-moment linear regression
# ---------------------------------------------------------------------------

def stats_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope/intercept of extendedprice (cents) on quantity per return
    flag, from EXACT integer moment sums — the same order-insensitive
    pattern as stats_corr (native regr_slope/regr_intercept are float
    accumulations that cannot hash-match a serial engine). One map-side
    combinable aggregation; the float formula runs the identical IEEE op
    sequence on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * d("y")).alias("sxy"),
        F.sum(d("x") * d("x")).alias("sx2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(slope, 6).alias("slope_cents_per_qty"),
        F.round(intercept, 6).alias("intercept_cents"),
    )


STATS_LINREG_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sx2
  FROM s GROUP BY l_returnflag)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sx2 - sx * sx AS DOUBLE), 6) AS slope_cents_per_qty,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sx2 - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept_cents
FROM m
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Deterministic mode
# ---------------------------------------------------------------------------

def mode_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal order priority per status. Native mode() is tie-arbitrary in
    both engines, so this computes it deterministically: count per value,
    rank by (count DESC, value ASC), keep rank 1 — the portable mode."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("n"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


MODE_SQL = """
WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
           FROM orders GROUP BY o_orderstatus, o_orderpriority),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY n DESC, o_orderpriority ASC) AS rn
      FROM c)
SELECT o_orderstatus, o_orderpriority AS modal_priority, n AS n_orders
FROM r WHERE rn = 1
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Snapshot diff (CDC-style table compare)
# ---------------------------------------------------------------------------

def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff of two table snapshots — the reconciliation step of
    every replication/backfill pipeline. Old and new snapshots are derived
    deterministically from the orders fixture (disjoint key-suffix deletes
    and inserts, a price bump on every 5th key), then FULL OUTER joined on
    the key and classified insert / delete / update; unchanged rows are
    dropped BEFORE the sort so the output scales with the churn, not the
    table. One co-partitioned shuffle on the key at any scale."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    old = orders.where(F.col("o_orderkey") % 10 != 3)
    new = orders.where(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("cents") + 100
        ).otherwise(F.col("cents")).alias("cents"),
    )
    o = old.select(
        F.col("o_orderkey").alias("k"), F.col("cents").alias("old_cents")
    )
    n = new.select(
        F.col("o_orderkey").alias("k"), F.col("cents").alias("new_cents")
    )
    diff = o.join(n, "k", "full_outer").select(
        F.col("k").alias("o_orderkey"),
        F.when(F.col("old_cents").isNull(), F.lit("insert"))
        .when(F.col("new_cents").isNull(), F.lit("delete"))
        .when(F.col("old_cents") != F.col("new_cents"), F.lit("update"))
        .otherwise(F.lit("same"))
        .alias("action"),
        "old_cents",
        "new_cents",
    )
    return diff.where(F.col("action") != "same").orderBy("o_orderkey")


SNAPSHOT_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
old AS (SELECT * FROM base WHERE o_orderkey % 10 <> 3),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN cents + 100 ELSE cents END AS cents
  FROM base WHERE o_orderkey % 10 <> 7),
diff AS (
  SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
         CASE WHEN old.o_orderkey IS NULL THEN 'insert'
              WHEN new.o_orderkey IS NULL THEN 'delete'
              WHEN old.cents <> new.cents THEN 'update'
              ELSE 'same' END AS action,
         old.cents AS old_cents, new.cents AS new_cents
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey)
SELECT o_orderkey, action, old_cents, new_cents
FROM diff WHERE action <> 'same'
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Incremental aggregate refresh (materialized-view maintenance)
# ---------------------------------------------------------------------------

def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh a materialized monthly-revenue aggregate with a delta batch
    WITHOUT rescanning history: new_agg = re-aggregate(old_agg ∪ agg(delta)).
    The 'old' materialization covers orders before 2001; the delta is the
    2001+ tail. Because SUM and COUNT are decomposable, unioning the small
    aggregate with the aggregated delta and re-summing per group is exact —
    the oracle recomputes from ALL rows and must hash-match. This is the
    generic form of the index builder's incremental_reindex (SURVEY.md A5):
    at 100 TB the refresh touches only the delta partition plus the tiny
    aggregate table."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cut = F.lit("2001-01-01").cast("date")
    base_agg = (
        orders.where(F.col("month") < cut)
        .groupBy("month")
        .agg(F.sum("cents").alias("rev_cents"), F.count("*").alias("n_orders"))
    )
    delta_agg = (
        orders.where(F.col("month") >= cut)
        .groupBy("month")
        .agg(F.sum("cents").alias("rev_cents"), F.count("*").alias("n_orders"))
    )
    return (
        base_agg.unionByName(delta_agg)
        .groupBy("month")
        .agg(
            F.sum("rev_cents").alias("rev_cents"),
            F.sum("n_orders").alias("n_orders"),
        )
        .orderBy("month")
    )


INCREMENTAL_AGG_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS rev_cents,
       COUNT(*) AS n_orders
FROM orders
GROUP BY month
ORDER BY month
"""


def revenue_share_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total via FULL-PARTITION window frames (no ORDER BY): each
    nation's share of its region's revenue and of global revenue, computed
    from ONE aggregate + two unordered window sums — the ratio-to-report
    pattern. Sums are exact integer cents so the division is deterministic;
    the windows ride the tiny per-nation aggregate, never the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    per_nation = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    by_region = W.partitionBy("r_name")
    overall = W.partitionBy()
    return per_nation.select(
        "r_name",
        "n_name",
        "rev_cents",
        F.round(
            F.col("rev_cents") / F.sum("rev_cents").over(by_region), 6
        ).alias("region_share"),
        F.round(
            F.col("rev_cents") / F.sum("rev_cents").over(overall), 6
        ).alias("global_share"),
    ).orderBy("r_name", "n_name")


REVENUE_SHARE_SQL = """
WITH per_nation AS (
  SELECT r_name, n_name,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT r_name, n_name, rev_cents,
       round(rev_cents / CAST(SUM(rev_cents) OVER (PARTITION BY r_name)
                              AS BIGINT), 6) AS region_share,
       round(rev_cents / CAST(SUM(rev_cents) OVER () AS BIGINT), 6)
         AS global_share
FROM per_nation
ORDER BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier)
# ---------------------------------------------------------------------------

def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts: minimize retail price, maximize size. A part
    is dominated iff some other part is no worse on both axes and strictly
    better on one.

    Scale shape: the naive formulation is a quadratic NOT-EXISTS self-join
    (the oracle uses it — obviously correct, fine at 60k rows). Here the
    skyline is computed from a per-size aggregate instead: a part survives
    iff it is the cheapest at its size AND strictly cheaper than every
    larger size's minimum. That turns an O(n²) join into one hash aggregate
    over the fact table plus a window over the size DOMAIN (tens of rows,
    broadcast back) — the distributive skyline trick that survives 100 TB
    because nothing quadratic ever touches the big table.
    """
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    by_size = p.groupBy("p_size").agg(F.min("price_cents").alias("min_at_size"))
    # suffix-min over strictly larger sizes; the window spans only the size
    # domain (|distinct sizes| rows), not the part table
    w = W.orderBy(F.desc("p_size")).rowsBetween(W.unboundedPreceding, -1)
    suffix = by_size.withColumn("min_above", F.min("min_at_size").over(w))
    return (
        p.join(F.broadcast(suffix), "p_size")
        .where(
            (F.col("price_cents") == F.col("min_at_size"))
            & (
                F.col("min_above").isNull()
                | (F.col("min_above") > F.col("price_cents"))
            )
        )
        .select("p_partkey", "p_size", "price_cents")
    )


SKYLINE_SQL = """
SELECT p.p_partkey, p.p_size,
       CAST(round(p.p_retailprice * 100) AS BIGINT) AS price_cents
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE round(q.p_retailprice * 100) <= round(p.p_retailprice * 100)
    AND q.p_size >= p.p_size
    AND (round(q.p_retailprice * 100) < round(p.p_retailprice * 100)
         OR q.p_size > p.p_size))
"""


# ---------------------------------------------------------------------------
# Weighted median
# ---------------------------------------------------------------------------

def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median of extended price per return flag: the
    smallest price whose RANGE-cumulative weight reaches half the total.
    RANGE frames make tied prices contribute as one block, so the answer is
    a pure function of (price, weight) pairs — no interpolation, no float
    quantile machinery (cf. percentile_stats for the unweighted family)."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round("l_quantity").cast("long").alias("wt"),
    )
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("cents")
        .rangeBetween(W.unboundedPreceding, 0)
    )
    w_all = W.partitionBy("l_returnflag")
    x = rows.select(
        "l_returnflag",
        "cents",
        F.sum("wt").over(w_cum).alias("cumw"),
        F.sum("wt").over(w_all).alias("total"),
    )
    return x.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cumw") >= F.col("total"), F.col("cents"))).alias(
            "weighted_median_cents"
        ),
        F.max("total").alias("total_weight"),
    )


WEIGHTED_MEDIAN_SQL = """
WITH rows_ AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_quantity) AS BIGINT) AS wt
  FROM lineitem),
x AS (
  SELECT l_returnflag, cents,
         SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY cents
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw,
         SUM(wt) OVER (PARTITION BY l_returnflag) AS total
  FROM rows_)
SELECT l_returnflag,
       CAST(MIN(CASE WHEN 2 * cumw >= total THEN cents END) AS BIGINT)
         AS weighted_median_cents,
       CAST(MAX(total) AS BIGINT) AS total_weight
FROM x GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Association rules (confidence / lift)
# ---------------------------------------------------------------------------

def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 2-item association rules a→b over order baskets with
    support ≥ 2: confidence = P(b|a), lift = confidence / P(b) — the rule
    mining step after basket_part_pairs' co-occurrence counts. All counts
    are integers; the two ratios are single correctly-rounded divisions.
    Shape: one bounded basket self-join for pair supports + per-item
    aggregates joined back. The item frames are NOT hint-broadcast: they are
    one row per distinct part — a frame that grows with scale factor, so the
    size decision belongs to AQE (broadcast when small, shuffle join on the
    part key otherwise); only the 1-row n_orders scalar keeps its hint."""
    # The distinct basket projection feeds FIVE consumers (n_orders, the
    # per-item aggregate, both sides of the pair self-join, and the b-side
    # re-aggregate) — planned separately, that was five lineitem scans and
    # up to five distinct shuffles per run (r14 measurement: executed plan
    # showed 5 FileScans, 0 reused exchanges). Computed ONCE (one scan + one
    # distinct shuffle), every consumer reads the narrow 16-byte
    # (orderkey, partkey) rows. Bound: distinct lineitem (order, part) pairs.
    li = materialize(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    item = li.groupBy(F.col("l_partkey").alias("a")).agg(
        F.count("*").alias("a_orders")
    )
    x = li.select("l_orderkey", F.col("l_partkey").alias("a"))
    y = li.select("l_orderkey", F.col("l_partkey").alias("b"))
    pairs = (
        x.join(y, "l_orderkey")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
    )
    b_item = item.select(
        F.col("a").alias("b"), F.col("a_orders").alias("b_orders")
    )
    return (
        pairs.join(item, "a")
        .join(b_item, "b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "a",
            "b",
            "support",
            F.round(F.col("support") / F.col("a_orders"), 6).alias("confidence"),
            F.round(
                (F.col("support") / F.col("a_orders"))
                / (F.col("b_orders") / F.col("n_orders")),
                6,
            ).alias("lift"),
        )
    )


ASSOCIATION_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
item AS (SELECT l_partkey AS a, COUNT(*) AS a_orders FROM li GROUP BY 1),
pairs AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS support
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT p.a, p.b, CAST(p.support AS BIGINT) AS support,
       round(p.support / ia.a_orders, 6) AS confidence,
       round((p.support / ia.a_orders) / (ib.a_orders / n.n_orders), 6)
         AS lift
FROM pairs p
JOIN item ia ON ia.a = p.a
JOIN item ib ON ib.a = p.b
CROSS JOIN n
"""


# ---------------------------------------------------------------------------
# Pareto concentration (80/20)
# ---------------------------------------------------------------------------

def customer_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: how many top customers cover ≥80% of total
    order revenue, and the share of the customer base they represent. A
    cumulative-sum prefix over the per-customer AGGREGATE (never the fact
    table), then one scalar readout — the Pareto/ABC analysis shape.
    Deterministic: cents cumsum is exact, ordering tie-broken by custkey,
    and the two output ratios are single rounded divisions.

    Scale shape (round 4): the global rank + running sum come from
    ``operators.ranking.with_global_rank_cumsum`` — the two-phase
    range-partitioned prefix sum (per-bucket totals folded into literal
    offsets + a bucket-partitioned window cumsum) this docstring used to
    only describe. No single-partition sort; bit-identical to the window
    form the oracle still uses."""
    from ..operators.ranking import NtileSpec, with_global_rank_cumsum

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    ranked = with_global_rank_cumsum(
        per_cust,
        NtileSpec(
            "pareto",
            -F.col("cents"),
            [F.desc("cents"), F.col("o_custkey").asc()],
            sub_key=F.col("o_custkey"),
        ),
        value=F.col("cents"),
        rank_col="rn",
        cumsum_col="cum_cents",
    ).select("o_custkey", "cents", "cum_cents", "rn")
    totals = per_cust.agg(
        F.sum("cents").alias("total_cents"), F.count("*").alias("n_cust")
    )
    hit = (
        ranked.crossJoin(F.broadcast(totals))
        .where(5 * F.col("cum_cents") >= 4 * F.col("total_cents"))
        .agg(
            F.min("rn").alias("n_top_customers"),
            F.max("n_cust").alias("n_customers"),
        )
    )
    return hit.select(
        "n_top_customers",
        "n_customers",
        F.round(F.col("n_top_customers") / F.col("n_customers"), 6).alias(
            "top_frac"
        ),
    )


PARETO_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT o_custkey, cents,
         SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_cents,
         row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn
  FROM per_cust),
totals AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS total_cents, COUNT(*) AS n_cust
  FROM per_cust)
SELECT CAST(MIN(rn) AS BIGINT) AS n_top_customers,
       CAST(MAX(n_cust) AS BIGINT) AS n_customers,
       round(MIN(rn) / MAX(n_cust), 6) AS top_frac
FROM ranked CROSS JOIN totals
WHERE 5 * cum_cents >= 4 * total_cents
"""


def orders_quarter_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue ROLLUP over the (year, quarter) time hierarchy — subtotal
    rows per year and a grand total in one aggregation pass (no re-scan per
    level; Spark expands grouping sets map-side). Cents-exact."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        base.rollup("yr", "qtr")
        .agg(
            # grouping() must be computed inside the rollup aggregate
            F.grouping("yr").cast("int").alias("g_yr"),
            F.grouping("qtr").cast("int").alias("g_qtr"),
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
        )
        .select("yr", "qtr", "g_yr", "g_qtr", "n_orders", "rev_cents")
    )


QUARTER_ROLLUP_SQL = """
SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
       CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_yr,
       CAST(GROUPING(quarter(o_orderdate)) AS INTEGER) AS g_qtr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS rev_cents
FROM orders
GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate))
"""


def user_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value decile segmentation: users bucketed into 10 spend
    deciles (purchase cents, positional deciles over a fully tie-broken
    order), then per-decile totals — the monetization report shape. The
    decile is deterministic because the ORDER BY is a total order (cents
    desc, user_id) over the per-user aggregate.

    Scale shape: NTILE-exact deciles WITHOUT the global single-partition
    sort, via ``operators.ranking.with_global_ntiles`` (literal range-bucket
    boundaries -> partitioned row_number + literal offsets -> positional
    tile formula). The oracle keeps plain NTILE; results are bit-identical."""
    from ..operators.ranking import NtileSpec, with_global_ntiles

    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    deciled = with_global_ntiles(
        per_user,
        [
            NtileSpec(
                "decile",
                -F.col("cents"),
                [F.desc("cents"), F.col("user_id").asc()],
            )
        ],
        n_tiles=10,
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("cents").alias("decile_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("decile")
    )


LTV_DECILES_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
deciled AS (
  SELECT user_id, cents,
         ntile(10) OVER (ORDER BY cents DESC, user_id) AS decile
  FROM per_user)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS decile_cents,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM deciled GROUP BY decile ORDER BY decile
"""


def orders_page_two(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless pagination: page 2 of the order book (rows 11-20 by price
    desc) via ORDER BY + OFFSET + LIMIT — deterministic because the sort is
    a total order (price cents desc, key). Spark plans offset+limit as a
    single TakeOrdered of offset+limit rows, so the cost is the page
    horizon, not the table. (Real pagination at depth uses keyset
    predicates — `WHERE (cents, key) < last_seen` — which this total order
    makes possible; OFFSET is the operator-parity shape.)"""
    orders = load_table(spark, sf_dir, "orders")
    ranked = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).orderBy(F.desc("cents"), "o_orderkey")
    return ranked.offset(10).limit(10)


PAGE_TWO_SQL = """
SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
ORDER BY cents DESC, o_orderkey
LIMIT 10 OFFSET 10
"""


# order-independent table checksum (``table_checksum_xor``): the
# cross-cluster reconciliation primitive — bit_xor of a 60-bit digest of
# each row's canonical string, grouped. XOR is commutative, so the result
# is independent of partitioning/ordering and two clusters can compare
# per-group fingerprints without moving data. 60 bits (15 hex chars) keeps
# the value inside a signed BIGINT on both engines.
def table_checksum_xor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-group fingerprint of ``lineitem``: each row is
    rendered to a canonical string (decimals fixed to 2 places, dates to
    ISO — the one encoding both engines print identically), digested to a
    60-bit integer (15 hex chars of md5 — fits signed BIGINT), and XOR-folded
    per ``l_returnflag``. XOR commutes, so the fingerprint is invariant to
    partitioning, task order, and shuffle nondeterminism — two clusters
    compare ``(group, n_rows, checksum)`` triples instead of rows. This is
    the anti-entropy/reconciliation primitive for replicated 100 TB tables."""
    li = load_table(spark, sf_dir, "lineitem")
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_quantity").cast("decimal(18,2)"),
        F.col("l_extendedprice").cast("decimal(18,2)"),
        F.col("l_discount").cast("decimal(18,2)"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.date_format("l_shipdate", "yyyy-MM-dd"),
    )
    digest60 = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return (
        li.select("l_returnflag", digest60.alias("d"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(d)").alias("checksum"),
        )
    )


CHECKSUM_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       bit_xor(('0x' || substr(md5(concat_ws('|',
           l_orderkey,
           l_linenumber,
           CAST(l_quantity AS DECIMAL(18,2)),
           CAST(l_extendedprice AS DECIMAL(18,2)),
           CAST(l_discount AS DECIMAL(18,2)),
           l_returnflag,
           l_linestatus,
           strftime(l_shipdate, '%Y-%m-%d'))), 1, 15))::BIGINT) AS checksum
FROM lineitem
GROUP BY l_returnflag
"""


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: one row per
    foreign key with child row count and orphan count. Each check is one
    left join against the DISTINCT parent key (AQE broadcasts the key
    projections that fit) + one partial-aggregating pass — no scalar
    cross joins, no driver-side counts. The cross-table data-quality
    gate a 100 TB warehouse runs after every load."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def check(name, child, child_key, parent, parent_key):
        pk = parent.select(F.col(parent_key).alias("__k")).distinct().withColumn(
            "__hit", F.lit(1)
        )
        j = child.select(F.col(child_key).alias("__k")).join(pk, "__k", "left")
        return j.agg(
            F.lit(name).alias("fk"),
            F.count("*").alias("n_child"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias(
                "n_orphans"
            ),
        )

    checks = [
        check("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        check("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
        check("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


FK_AUDIT_SQL = """
SELECT 'lineitem.l_orderkey->orders' AS fk,
       COUNT(*) AS n_child,
       CAST(SUM(CASE WHEN p.__k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM lineitem c
LEFT JOIN (SELECT DISTINCT o_orderkey AS __k FROM orders) p ON c.l_orderkey = p.__k
UNION ALL
SELECT 'orders.o_custkey->customer',
       COUNT(*),
       CAST(SUM(CASE WHEN p.__k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders c
LEFT JOIN (SELECT DISTINCT c_custkey AS __k FROM customer) p ON c.o_custkey = p.__k
UNION ALL
SELECT 'customer.c_nationkey->nation',
       COUNT(*),
       CAST(SUM(CASE WHEN p.__k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM customer c
LEFT JOIN (SELECT DISTINCT n_nationkey AS __k FROM nation) p ON c.c_nationkey = p.__k
"""


# --------------------------------------------------------------------------
# Incremental view maintenance (partial-agg refresh)
# --------------------------------------------------------------------------

#: Everything before the split is the "materialized" base state; at or
#: after it is the delta batch. Orders span 1995..2001, so the delta is
#: the last ~1.6 years — a realistic refresh ratio.
_IVM_SPLIT = "2000-01-01"


# incremental view maintenance (``ivm_orders_agg_refresh``):
# refresh a per-customer (count, sum) aggregate from a materialized
# partial-aggregate state plus a delta batch — re-aggregating compacted
# partials UNIONed with delta rows, never rescanning the base fact
# table. count/sum decompose over partials (the same mergeability that
# powers every sketch in SCALING §13); the oracle recomputes from
# scratch to prove refresh == full recompute.
def ivm_orders_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh per-customer (order_count, total_cents) from materialized
    partials + a delta batch, without rescanning the base facts.

    count and sum are MERGEABLE: the refreshed view is
    re-agg(partials ∪ delta-partials). Here the base partials are built
    once (in production they'd be read back from the materialized store —
    the plan after the union is identical either way) and the delta scan
    is predicate-pushed to ``o_orderdate >= split``. At 100 TB the
    refresh shuffles |customers| + |delta| rows instead of |base facts|
    — the same partial-agg mergeability that makes every sketch in
    SCALING §13 distributable. Money stays in exact integer cents until
    output. Oracle recomputes the view from scratch: refresh must equal
    full recompute."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice").cast("double") * 100).cast("long").alias(
            "cents"
        ),
    )
    split = F.lit(_IVM_SPLIT).cast("date")
    base = orders.where(F.col("o_orderdate") < split)
    delta = orders.where(F.col("o_orderdate") >= split)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("cnt"), F.sum("cents").alias("total_cents")
        )

    refreshed = (
        partials(base)
        .unionAll(partials(delta))
        .groupBy("o_custkey")
        .agg(
            F.sum("cnt").cast("long").alias("order_count"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
    )
    return refreshed.orderBy("o_custkey")


IVM_REFRESH_SQL = """
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS order_count,
       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# Deterministic per-group sample
# --------------------------------------------------------------------------

_GROUP_SAMPLE_K = 5


def orders_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible k-per-group sample: 5 orders per market segment by
    md5-hash priority — the per-stratum companion of the global
    ``corpus_hash_sample`` / weighted priority sampler.

    The priority is a pure function of the key (52 bits of md5), so the
    sample is stable across runs, engines, and partitionings — the
    property that makes pipeline reruns and A/B eval sets reproducible.
    One broadcast join (customer dim → segment) + one PARTITIONED window
    (row_number per segment over hash order): no global sort, no driver
    collect; per-group state at 100 TB is the k-row heap Spark keeps per
    window partition."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    pri = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13), 16, 10
    ).cast("long")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("priority").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.join(F.broadcast(cust), "o_custkey")
        .withColumn("priority", pri)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _GROUP_SAMPLE_K)
        .select(
            "c_mktsegment",
            F.col("rn").cast("int").alias("rn"),
            "o_orderkey",
            "priority",
        )
        .orderBy("c_mktsegment", "rn")
    )


GROUP_SAMPLE_SQL = f"""
WITH pri AS (
  SELECT c.c_mktsegment, o.o_orderkey,
         ('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 13))::BIGINT
           AS priority
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
ranked AS (
  SELECT c_mktsegment, o_orderkey, priority,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY priority ASC, o_orderkey ASC) AS rn
  FROM pri
)
SELECT c_mktsegment, CAST(rn AS INTEGER) AS rn, o_orderkey, priority
FROM ranked WHERE rn <= {_GROUP_SAMPLE_K}
ORDER BY c_mktsegment, rn
"""


# --------------------------------------------------------------------------
# CDC snapshot diff
# --------------------------------------------------------------------------

_CDC_SPLIT = "2000-01-01"


def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: emit one row per
    INSERT / UPDATE / DELETE with old and new values.

    Snapshots are derived deterministically from ``orders`` (A = the full
    pre-2000 state; B = today's state, where every 13th pre-2000 key has
    been deleted, post-2000 keys inserted, and every 7th open order's
    price touched up), then diffed with ONE
    hash-partitioned full outer join on the primary key — the change
    feed a lakehouse derives when the source system has no native CDC.
    Unchanged rows are dropped AFTER the join by column compare; at
    100 TB the standard refinement is comparing a persisted per-row
    digest instead of N columns (same join shape, narrower shuffle), and
    partition-level pruning skips partitions whose aggregate checksum
    (``table_checksum``'s partial) is unchanged. Money is exact integer
    cents end to end."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.round(F.col("o_totalprice").cast("double") * 100).cast("long").alias(
            "cents"
        ),
    )
    split = F.lit(_CDC_SPLIT).cast("date")
    snap_a = orders.where(F.col("o_orderdate") < split).select(
        "o_orderkey", "o_custkey", F.col("cents").alias("cents_a")
    )
    snap_b = (
        orders.where(
            (F.col("o_orderdate") >= split) | (F.col("o_orderkey") % 13 != 0)
        )
        .withColumn(
            "cents_b",
            F.when(
                (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 7 == 0),
                F.col("cents") + F.lit(100),
            ).otherwise(F.col("cents")),
        )
        .select("o_orderkey", "o_custkey", "cents_b")
    )
    diff = snap_a.join(snap_b, ["o_orderkey", "o_custkey"], "full_outer")
    return (
        diff.withColumn(
            "change_type",
            F.when(F.col("cents_a").isNull(), F.lit("insert"))
            .when(F.col("cents_b").isNull(), F.lit("delete"))
            .when(F.col("cents_a") != F.col("cents_b"), F.lit("update")),
        )
        .where(F.col("change_type").isNotNull())
        .select("o_orderkey", "o_custkey", "change_type", "cents_a", "cents_b")
        .orderBy("o_orderkey")
    )


CDC_DIFF_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM orders
),
snap_a AS (
  SELECT o_orderkey, o_custkey, cents AS cents_a
  FROM base
  WHERE o_orderdate < DATE '{_CDC_SPLIT}'
),
snap_b AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderstatus = 'O' AND o_orderkey % 7 = 0
              THEN cents + 100 ELSE cents END AS cents_b
  FROM base
  WHERE o_orderdate >= DATE '{_CDC_SPLIT}' OR o_orderkey % 13 != 0
)
SELECT o_orderkey, o_custkey,
       CASE WHEN cents_a IS NULL THEN 'insert'
            WHEN cents_b IS NULL THEN 'delete'
            WHEN cents_a != cents_b THEN 'update' END AS change_type,
       cents_a, cents_b
FROM snap_a FULL OUTER JOIN snap_b USING (o_orderkey, o_custkey)
WHERE (cents_a IS NULL) OR (cents_b IS NULL) OR (cents_a != cents_b)
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# Salted skew join
# --------------------------------------------------------------------------

#: salt fan-out: a hot key's rows spread over this many join tasks
_N_SALTS = 8


# salted fact⋈dim join (``skew_join_salted``): the classic hot-key
# mitigation for a shuffled join — a fact table whose join key is heavily
# skewed hashes ALL of a hot key's rows to one reducer; salting splits each
# key into B sub-keys on the fact side and REPLICATES each dim row across
# all B salts, so a hot key's probe work spreads over B tasks. AQE's
# skew-join splitting (on by default) handles moderate skew at runtime by
# splitting oversized partitions, but it only splits the STREAM side of a
# sort-merge join — when one key alone exceeds executor memory or the dim
# is too big to broadcast, the explicit salt is the deterministic fix. The
# DuckDB oracle is the plain unsalted join, so the gate proves the salted
# spelling is a pure physical rewrite (dim replication is a bounded ×B
# projection of the SMALL side — never of the fact).
def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events ⋈ customer on ``user_id = c_custkey`` with an explicit
    ×8 salt, aggregated per market segment.

    Fact side: a deterministic row-level salt (``pmod(hash(event_id), 8)``
    — content-derived, no RNG state, stable across retries). Dim side:
    each customer row is replicated across all 8 salts via a bounded
    ``explode`` (a projection — no shuffle; the replication factor applies
    to the SMALL side only). The join keys on ``(user_id, _salt)``, so the
    hottest user's probe rows land on 8 different reducers instead of 1;
    the ``SHUFFLE_MERGE`` hint pins the shuffled path the salt is for (a
    broadcast join has no reducer to skew — when the dim fits in memory,
    broadcast and skip the salt entirely).

    Every fact row carries exactly one salt and its dim match exists at
    exactly that salt, so the salted join EQUALS the plain join — which is
    what the unsalted DuckDB oracle gates."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    fact = ev.withColumn(
        "_salt", F.pmod(F.hash("event_id"), F.lit(_N_SALTS))
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        .withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALTS)]))
        )
    )
    joined = fact.join(dim.hint("SHUFFLE_MERGE"), ["user_id", "_salt"])
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


SKEW_JOIN_SALTED_SQL = """
SELECT c.c_mktsegment,
       count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       round(sum(e.value), 4) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


# --------------------------------------------------------------------------
# k-anonymity audit
# --------------------------------------------------------------------------

_K_ANON = 5


# k-anonymity audit (``customer_k_anonymity_audit``): group sizes of
# the quasi-identifier tuple (mktsegment, nationkey) with a k=5 flag —
# the governance readout that decides whether an export needs
# suppression. One aggregate; the violating-class list is the output.
def customer_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equivalence-class sizes of the quasi-identifier (mktsegment,
    nationkey), flagged below k=5 — the export-governance readout."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count("*").cast("long").alias("class_size"))
        .withColumn(
            "violates_k", F.when(F.col("class_size") < _K_ANON, 1).otherwise(0).cast("int")
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


K_ANONYMITY_SQL = f"""
SELECT c_mktsegment, c_nationkey,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(CASE WHEN count(*) < {_K_ANON} THEN 1 ELSE 0 END AS INTEGER)
         AS violates_k
FROM customer
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey
"""


# --------------------------------------------------------------------------
# Benford leading-digit audit
# --------------------------------------------------------------------------

#: Benford expected share per leading digit, frozen in Python and embedded
#: as identical repr-literals in both engines' expressions.
_BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}

_DIGIT_EXPR = (
    "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1)"
    " AS INT)"
)

_EXPECTED_CASE = (
    # CAST each branch literal: DuckDB parses bare decimal literals as
    # DECIMAL (Spark as DOUBLE); the cast pins both engines to the same
    # IEEE double before any arithmetic touches the value.
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN CAST({_BENFORD_P[d]!r} AS DOUBLE)" for d in range(1, 10)
    )
    + " END"
)


# Benford audit (``orders_benford_audit``): leading-digit
# distribution of order totals vs Benford's law with per-digit
# chi-square contributions — the fraud/data-entry forensic screen. The
# expected shares are literal constants (log10(1+1/d) frozen in Python,
# embedded in both engines' expressions), so each of the 9 bounded cells
# is one frozen float chain over exact integer counts.
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit census of o_totalprice against Benford's law: per
    digit, the observed count/share, the expected share, and the
    chi-square contribution ((obs − N·p)²/(N·p), micro-rounded). One
    hash aggregation to 9 cells + a 1-row total scalar; every float op
    runs on the bounded cell frame."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") >= 1.0
    )
    digits = orders.select(F.expr(_DIGIT_EXPR).alias("digit"))
    counts = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    total = digits.agg(F.count("*").alias("n_total"))  # 1-row scalar
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr(f"round({_EXPECTED_CASE}, 6)").alias("expected_share"),
            F.expr(
                "round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6)"
            ).alias("obs_share"),
            F.expr(
                f"CAST(floor("
                f"  pow(CAST(n AS DOUBLE) - CAST(n_total AS DOUBLE) * ({_EXPECTED_CASE}), 2)"
                f"  / (CAST(n_total AS DOUBLE) * ({_EXPECTED_CASE}))"
                f"  * 1000000 + 0.5) AS BIGINT)"
            ).alias("chi2_micros"),
        )
        .orderBy("digit")
    )


BENFORD_SQL = f"""
WITH digits AS (
  SELECT {_DIGIT_EXPR} AS digit
  FROM orders WHERE o_totalprice >= 1.0
),
counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
),
total AS (SELECT count(*) AS n_total FROM digits)
SELECT digit, n,
       round({_EXPECTED_CASE}, 6) AS expected_share,
       round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS obs_share,
       CAST(floor(
         pow(CAST(n AS DOUBLE) - CAST(n_total AS DOUBLE) * ({_EXPECTED_CASE}), 2)
         / (CAST(n_total AS DOUBLE) * ({_EXPECTED_CASE}))
         * 1000000 + 0.5) AS BIGINT) AS chi2_micros
FROM counts CROSS JOIN total
ORDER BY digit
"""


# --------------------------------------------------------------------------
# l-diversity audit
# --------------------------------------------------------------------------

#: minimum distinct sensitive values per quasi-identifier class
_L_DIVERSITY = 3


# l-diversity audit (``customer_l_diversity``): for each
# quasi-identifier class (mktsegment, nationkey), how many DISTINCT
# sensitive values (order priorities) its members expose — k-anonymity's
# companion check (a large class whose members all share one sensitive
# value still leaks it).
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each quasi-identifier class (mktsegment, nationkey): member
    count and the number of DISTINCT sensitive values (order priorities)
    the class exposes, flagged when below l=3. Classes whose members
    placed no orders expose nothing (l=0) and are flagged too. Two hash
    aggregations + one class-key join; the sensitive side reduces to the
    class key before joining."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderpriority"
    )
    classes = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").cast("long").alias("class_size")
    )
    sens = (
        cust.select("c_custkey", "c_mktsegment", "c_nationkey")
        .join(orders, "c_custkey")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.countDistinct("o_orderpriority").cast("long").alias("l_distinct"))
    )
    return (
        classes.join(sens, ["c_mktsegment", "c_nationkey"], "left")
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            F.coalesce("l_distinct", F.lit(0).cast("long")).alias("l_distinct"),
            F.when(
                F.coalesce("l_distinct", F.lit(0)) < _L_DIVERSITY, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("violates_l"),
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


L_DIVERSITY_SQL = f"""
WITH classes AS (
  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS class_size
  FROM customer GROUP BY 1, 2
),
sens AS (
  SELECT c.c_mktsegment, c.c_nationkey,
         CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT cl.c_mktsegment, cl.c_nationkey, cl.class_size,
       COALESCE(s.l_distinct, 0) AS l_distinct,
       CAST(CASE WHEN COALESCE(s.l_distinct, 0) < {_L_DIVERSITY}
                 THEN 1 ELSE 0 END AS INTEGER) AS violates_l
FROM classes cl
LEFT JOIN sens s
  ON s.c_mktsegment = cl.c_mktsegment AND s.c_nationkey = cl.c_nationkey
ORDER BY cl.c_mktsegment, cl.c_nationkey
"""


# --------------------------------------------------------------------------
# SCD Type-2 history build
# --------------------------------------------------------------------------

# SCD Type-2 history (``orders_scd2_history``): the slowly-changing-
# dimension build — collapse each customer's order-status stream into
# versioned [valid_from, valid_to) rows with an is_current flag, run
# detection via lag≠current + cumulative sum, deterministic
# (o_orderdate, o_orderkey) ordering. The warehouse-history companion
# to merge_upsert/snapshot_diff/latest_state.
def orders_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (Type 2) build over each customer's
    order-status stream: consecutive same-status runs collapse to one
    versioned row with [valid_from, valid_to) and an is_current flag.
    Run detection = lag≠current + running sum; ordering is the
    deterministic (o_orderdate, o_orderkey). Customer-partitioned
    windows + one customer-keyed aggregation — parallel at any scale."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.when(
            F.lag("o_orderstatus").over(w).isNull()
            | (F.lag("o_orderstatus").over(w) != F.col("o_orderstatus")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
        "o_orderkey",
    )
    runs = chg.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("version"),
    )
    collapsed = runs.groupBy("o_custkey", "version", "o_orderstatus").agg(
        F.min("o_orderdate").alias("valid_from"),
        F.count("*").cast("long").alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("version")
    return (
        collapsed.select(
            "o_custkey",
            "version",
            "o_orderstatus",
            "valid_from",
            F.lead("valid_from").over(w2).alias("valid_to"),
            "n_orders",
        )
        .withColumn(
            "is_current",
            F.when(F.col("valid_to").isNull(), 1).otherwise(0).cast("int"),
        )
        .orderBy("o_custkey", "version")
    )


SCD2_STATUS_SQL = """
WITH chg AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         CASE WHEN LAG(o_orderstatus) OVER w IS NULL
                OR LAG(o_orderstatus) OVER w <> o_orderstatus
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
runs AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         CAST(SUM(chg) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM chg
),
collapsed AS (
  SELECT o_custkey, version, o_orderstatus,
         MIN(o_orderdate) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM runs GROUP BY 1, 2, 3
)
SELECT o_custkey, version, o_orderstatus, valid_from,
       LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
         AS valid_to,
       n_orders,
       CAST(CASE WHEN LEAD(valid_from) OVER (PARTITION BY o_custkey
                                             ORDER BY version) IS NULL
                 THEN 1 ELSE 0 END AS INTEGER) AS is_current
FROM collapsed
ORDER BY o_custkey, version
"""


QUERIES = {
    "basket_part_pairs": basket_part_pairs,
    "division_full_coverage": division_full_coverage,
    "rfm_segmentation": rfm_segmentation,
    "fuzzy_name_match": fuzzy_name_match,
    "gini_balance_by_segment": gini_balance_by_segment,
    "revenue_growth_mom": revenue_growth_mom,
    "stats_corr": stats_corr,
    "window_distribution": window_distribution,
    "merge_upsert_orders": merge_upsert_orders,
    "percentile_stats": percentile_stats,
    "agg_distinct": agg_distinct,
    "having_filter": having_filter,
    "rollup_agg": rollup_agg,
    "cube_agg": cube_agg,
    "grouping_sets": grouping_sets,
    "pivot_status_by_segment": pivot_status_by_segment,
    "unpivot_part_attrs": unpivot_part_attrs,
    "join_left_outer": join_left_outer,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_full_outer": join_full_outer,
    "cross_join_scalar": cross_join_scalar,
    "correlated_scalar_subquery": correlated_scalar_subquery,
    "filter_in_list": filter_in_list,
    "set_union_all": set_union_all,
    "set_intersect": set_intersect,
    "set_except": set_except,
    "dedup_distinct": dedup_distinct,
    "topk_orders": topk_orders,
    "window_topk_per_group": window_topk_per_group,
    "window_running_sum": window_running_sum,
    "window_lag_lead": window_lag_lead,
    "window_rank_dense": window_rank_dense,
    "scd2_order_price_history": scd2_order_price_history,
    "stats_linreg": stats_linreg,
    "mode_priority_by_status": mode_priority_by_status,
    "snapshot_diff": snapshot_diff,
    "incremental_agg_refresh": incremental_agg_refresh,
    "revenue_share_window": revenue_share_window,
    "skyline_parts": skyline_parts,
    "weighted_median_price": weighted_median_price,
    "association_rules": association_rules,
    "customer_pareto_8020": customer_pareto_8020,
    "orders_page_two": orders_page_two,
    "orders_quarter_rollup": orders_quarter_rollup,
    "user_ltv_deciles": user_ltv_deciles,
    "fk_integrity_audit": fk_integrity_audit,
    "table_checksum_xor": table_checksum_xor,
    "ivm_orders_agg_refresh": ivm_orders_agg_refresh,
    "orders_group_sample": orders_group_sample,
    "snapshot_diff_cdc": snapshot_diff_cdc,
    "skew_join_salted": skew_join_salted,
    "customer_k_anonymity_audit": customer_k_anonymity_audit,
    "orders_benford_audit": orders_benford_audit,
    "customer_l_diversity": customer_l_diversity,
    "orders_scd2_history": orders_scd2_history,
}

ORACLES = {
    "basket_part_pairs": BASKET_SQL,
    "division_full_coverage": DIVISION_SQL,
    "rfm_segmentation": RFM_SQL,
    "fuzzy_name_match": FUZZY_NAME_SQL,
    "gini_balance_by_segment": GINI_SQL,
    "revenue_growth_mom": REVENUE_GROWTH_SQL,
    "stats_corr": STATS_CORR_SQL,
    "window_distribution": WINDOW_DISTRIBUTION_SQL,
    "merge_upsert_orders": MERGE_UPSERT_SQL,
    "percentile_stats": PERCENTILE_SQL,
    "agg_distinct": AGG_DISTINCT_SQL,
    "having_filter": HAVING_SQL,
    "rollup_agg": ROLLUP_SQL,
    "cube_agg": CUBE_SQL,
    "grouping_sets": GROUPING_SETS_SQL,
    "pivot_status_by_segment": PIVOT_SQL,
    "unpivot_part_attrs": UNPIVOT_SQL,
    "join_left_outer": JOIN_LEFT_SQL,
    "join_semi": JOIN_SEMI_SQL,
    "join_anti": JOIN_ANTI_SQL,
    "join_full_outer": JOIN_FULL_SQL,
    "cross_join_scalar": CROSS_SCALAR_SQL,
    "correlated_scalar_subquery": CORRELATED_SQL,
    "filter_in_list": FILTER_IN_SQL,
    "set_union_all": SET_UNION_SQL,
    "set_intersect": SET_INTERSECT_SQL,
    "set_except": SET_EXCEPT_SQL,
    "dedup_distinct": DEDUP_DISTINCT_SQL,
    "topk_orders": TOPK_SQL,
    "window_topk_per_group": WINDOW_TOPK_SQL,
    "window_running_sum": WINDOW_RUNNING_SQL,
    "window_lag_lead": WINDOW_LAG_SQL,
    "window_rank_dense": WINDOW_RANK_SQL,
    "scd2_order_price_history": SCD2_PRICE_SQL,
    "stats_linreg": STATS_LINREG_SQL,
    "mode_priority_by_status": MODE_SQL,
    "snapshot_diff": SNAPSHOT_DIFF_SQL,
    "incremental_agg_refresh": INCREMENTAL_AGG_SQL,
    "revenue_share_window": REVENUE_SHARE_SQL,
    "skyline_parts": SKYLINE_SQL,
    "weighted_median_price": WEIGHTED_MEDIAN_SQL,
    "association_rules": ASSOCIATION_SQL,
    "customer_pareto_8020": PARETO_SQL,
    "orders_page_two": PAGE_TWO_SQL,
    "orders_quarter_rollup": QUARTER_ROLLUP_SQL,
    "user_ltv_deciles": LTV_DECILES_SQL,
    "fk_integrity_audit": FK_AUDIT_SQL,
    "table_checksum_xor": CHECKSUM_SQL,
    "ivm_orders_agg_refresh": IVM_REFRESH_SQL,
    "orders_group_sample": GROUP_SAMPLE_SQL,
    "snapshot_diff_cdc": CDC_DIFF_SQL,
    "skew_join_salted": SKEW_JOIN_SALTED_SQL,
    "customer_k_anonymity_audit": K_ANONYMITY_SQL,
    "orders_benford_audit": BENFORD_SQL,
    "customer_l_diversity": L_DIVERSITY_SQL,
    "orders_scd2_history": SCD2_STATUS_SQL,
}
