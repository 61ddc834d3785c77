"""TPC-H-shaped queries Q1-Q22 over the synthetic star schema.

The schema has no ``partsupp`` table, so the four partsupp-based queries
(Q2/Q11/Q16/Q20) use the distinct ``(l_partkey, l_suppkey)`` pairs of
``lineitem`` as the supply relation; their physical shapes (min-per-group
join-back, global-fraction HAVING, distinct count with supplier exclusion,
correlated-threshold semi-join) are preserved. The parity target is the
operator shape, not the benchmark text.

Float determinism follows the contract in plans/relational.py: money in
exact integer cents or DECIMAL sums, integer-exact thresholds, full
tie-break keys before every LIMIT, and CAST(... AS BIGINT) on every DuckDB
integer SUM (HUGEINT reaches the driver as float otherwise).

Scale notes (100 TB): lineitem/orders stay on the shuffle side; dimension
tables and single-row aggregate scalars are broadcast (at warehouse scale
part/customer exceed the broadcast threshold and AQE falls back to shuffle
joins on their natural keys). The derived supply relation is itself a
fact-scale aggregate: it shuffles once on its natural key and every later
use joins on that key. Q21's two self-joins run on the (orderkey)-grouped
residual of a filtered fact scan, so both sides hash-partition on
l_orderkey and co-locate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table


def _dec(col, p=12, s=2):
    return F.col(col).cast(f"decimal({p},{s})")


# ---------------------------------------------------------------------------
# Aggregation pipelines
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy filter + 8-agg groupBy (SURVEY.md A1-A7
    analogue on the synthetic star schema).

    Money aggregates are carried as EXACT integer sums (cents for the
    base price, the natural 1e-4/1e-6 fixed-point for the discount/tax
    products) and converted to one frozen double division at the end.
    The previous spelling summed exact DECIMALs and cast the SUM to
    double — but the two engines round that decimal->double conversion
    differently on 1-ulp boundary values, which the r11 10x oracle
    sweep caught on sum_charge (invisible at sf0.1: smaller sums, a
    boundary value never materialized). Integer sums never hit a
    conversion boundary: qty/count values are exact in double, and each
    money column is ONE bigint->double division on both engines.

    Overflow headroom (ADVICE r12): the e4/e6 fixed-point rows are
    ~1e9/~1e11 each, so a single BIGINT sum would wrap at roughly
    sf>=1500 / sf>=100 (Spark wraps silently non-ANSI; DuckDB promotes
    to HUGEINT then errors on the cast back — the engines diverge
    exactly where a bigger sweep would land next). Each of those sums
    is therefore split PER ROW into (value div scale, value mod scale)
    and summed as two small BIGINTs — hi <= ~1.5e5/row, lo < scale —
    recombined as ONE int->double add + divide at the end. Both partial
    sums stay exactly representable in double far past sf100k, and the
    recombination is the same two IEEE ops on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    # exact per-row fixed-point: cents, then the discount/tax products
    # stay integral at scale 1e-4 / 1e-6 (cents x cents)
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    tax_c = F.round(F.col("l_tax") * 100).cast("long")
    disc_price_e4 = price_c * (100 - disc_c)          # scale 1e-4
    charge_e6 = disc_price_e4 * (100 + tax_c)          # scale 1e-6
    # per-row hi/lo split: (x - x % s) / s is exactly integral, and the
    # double division is exact (multiple of s, < 2^53)
    dp_lo = disc_price_e4 % 10000
    dp_hi = ((disc_price_e4 - dp_lo) / 10000).cast("long")
    ch_lo = charge_e6 % 1000000
    ch_hi = ((charge_e6 - ch_lo) / 1000000).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(price_c) / 100.0).alias("sum_base_price"),
            (F.sum(dp_hi) + F.sum(dp_lo) / 10000.0).alias("sum_disc_price"),
            (F.sum(ch_hi) + F.sum(ch_lo) / 1000000.0).alias("sum_charge"),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            (F.sum(price_c) / (F.count("*") * 100.0)).alias("avg_price"),
            (F.sum(disc_c) / (F.count("*") * 100.0)).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
WITH li AS (
  SELECT l_returnflag, l_linestatus, l_quantity,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
         CAST(round(l_tax * 100) AS BIGINT) AS tax_c
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
fx AS (
  SELECT l_returnflag, l_linestatus, l_quantity, price_c, disc_c,
         price_c * (100 - disc_c) AS dp_e4,
         price_c * (100 - disc_c) * (100 + tax_c) AS ch_e6
  FROM li)
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM(price_c) AS BIGINT) / 100.0 AS sum_base_price,
       CAST(SUM(dp_e4 // 10000) AS BIGINT)
         + CAST(SUM(dp_e4 % 10000) AS BIGINT) / 10000.0 AS sum_disc_price,
       CAST(SUM(ch_e6 // 1000000) AS BIGINT)
         + CAST(SUM(ch_e6 % 1000000) AS BIGINT) / 1000000.0 AS sum_charge,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       CAST(SUM(price_c) AS BIGINT) / (COUNT(*) * 100.0) AS avg_price,
       CAST(SUM(disc_c) AS BIGINT) / (COUNT(*) * 100.0) AS avg_disc,
       COUNT(*) AS count_order
FROM fx
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-10 (TakeOrderedAndProject). Revenue ranked on
    the exact decimal sum; tie-broken by orderkey."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("2000-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("rev_dec"))
        .orderBy(F.col("rev_dec").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


Q3_SQL = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-03-15'
  AND l_shipdate  > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) DESC,
         l_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way star join: dims broadcast, facts shuffle once (TPC-H Q5 shape)."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .where(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
"""


def _revenue():
    """Exact decimal disc-price sum: SUM(extendedprice * (1 - discount))."""
    return F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))
    )


_REV_SQL = """SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))"""


# ---------------------------------------------------------------------------
# Q4 shape: EXISTS semi-join with a non-equi residual condition
# ---------------------------------------------------------------------------

def q4_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders (one quarter) having ANY line shipped >120 days after the order
    date, counted by priority. EXISTS compiles to a LeftSemi hash join on
    l_orderkey with the date comparison as a residual — one pass over each
    table, no fact-fact shuffle duplication."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 120 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate <  TIMESTAMP '1998-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 120 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q10 shape: returned-revenue customer ranking over a 4-way star
# ---------------------------------------------------------------------------

def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue on returned lineitems ('R' flag) in one
    year: lineitem⋈orders shuffle join, customer/nation broadcast, decimal
    revenue, TakeOrderedAndProject for the limit."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_revenue().cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name, CAST({_REV_SQL} AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate <  TIMESTAMP '1999-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q12 shape: conditional 0/1 aggregate split by a dimension of the other table
# ---------------------------------------------------------------------------

def q12_priority_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per linestatus, counts of lines on high- vs low-priority orders in a
    shipdate year — the classic CASE-WHEN-inside-SUM map-side-combinable
    split (TPC-H Q12 with linestatus standing in for shipmode)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# ---------------------------------------------------------------------------
# Q13 shape: left-outer join + two-level aggregation (count distribution)
# ---------------------------------------------------------------------------

def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of orders-per-customer including zero-order customers:
    LEFT OUTER customer→orders, COUNT(o_orderkey) per customer (NULL-aware:
    unmatched rows count 0), then a second aggregation over the counts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Q14 shape: conditional-aggregate ratio (promo revenue share)
# ---------------------------------------------------------------------------

def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one month's revenue coming from PROMO-type parts — the
    numerator is a CASE-gated copy of the denominator sum, so ONE aggregate
    pass computes both. part is broadcast into the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(14,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc).cast("double"),
                6,
            ).alias("promo_share_pct")
        )
    )


Q14_SQL = f"""
SELECT round(100.0
             * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                  * (CAST(1 AS DECIMAL(4,2))
                                     - CAST(l_discount AS DECIMAL(4,2)))
                             ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
             / CAST({_REV_SQL} AS DOUBLE),
             6) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-06-01'
  AND l_shipdate <  TIMESTAMP '1998-07-01'
"""


# ---------------------------------------------------------------------------
# Q15 shape: scalar-subquery filter against an aggregate view (top supplier)
# ---------------------------------------------------------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) whose one-year revenue equals the global maximum. Revenue
    is kept as an exact integer (decimal sum x 10^4) so the max-equality
    filter is deterministic on both engines. The per-supplier aggregate is computed ONCE and reused for both
    the max scalar (broadcast) and the final join — at 100 TB the revenue
    view is the expensive part; the max+filter adds no extra fact scan."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    # the decimal revenue sum has scale 4, so *10^4 is exactly integral —
    # *100 would leave 2 fractional digits and Spark's cast-to-long TRUNCATES
    # where DuckDB's CAST rounds (a real 1-unit mismatch, caught by the gate)
    rev = li.groupBy("l_suppkey").agg(
        (_revenue() * 10000).cast("long").alias("total_rev_e4")
    )
    max_rev = rev.agg(F.max("total_rev_e4").alias("max_cents"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(max_rev), rev.total_rev_e4 == max_rev.max_cents)
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev_e4")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, CAST({_REV_SQL} * 10000 AS BIGINT) AS total_rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate <  TIMESTAMP '1999-01-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev_e4
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev_e4 = (SELECT MAX(total_rev_e4) FROM rev)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q17 shape: correlated per-group average filter (small-quantity orders)
# ---------------------------------------------------------------------------

def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost if small-quantity lines (< 50% of the
    part's mean quantity) of one brand were not filled. The correlated
    scalar subquery decorrelates to a per-part aggregate joined back to
    lineitem — quantities are integral doubles, so AVG is sum/count exact
    and the comparison is deterministic cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    per_part = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part.withColumnRenamed("l_partkey", "pp_key"),
              F.col("l_partkey") == F.col("pp_key"))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 6).alias(
                "avg_yearly"
            )
        )
    )


Q17_SQL = """
SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0,
             6) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (SELECT 0.5 * AVG(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


# ---------------------------------------------------------------------------
# Q18 shape: HAVING-subquery IN-join (large-volume orders)
# ---------------------------------------------------------------------------

def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 250, with customer context. The
    IN (GROUP BY ... HAVING) subquery becomes an aggregate → inner-join
    back to orders; sum_qty is an exact integral double."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive multi-attribute predicate (OR-of-ANDs pushdown)
# ---------------------------------------------------------------------------

def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue over an OR of three (brand, size-range, quantity-range)
    clauses — Catalyst extracts the common l_partkey=p_partkey conjunct as
    the join key and keeps the disjunction as a residual filter, instead of
    a cross product."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.where(clause).agg(_revenue().cast("double").alias("revenue"))


Q19_SQL = f"""
SELECT CAST({_REV_SQL} AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# Q22 shape: scalar-subquery threshold + anti-join (idle rich customers)
# ---------------------------------------------------------------------------

def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average balance and no recent order, by segment.
    The global average is computed in exact integer cents (sum/count — no
    float accumulation-order dependence), broadcast as a scalar; the NOT
    EXISTS is a left-anti join against recent orders."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(
            (F.sum("bal_cents").cast("double") / F.count("*")).alias("avg_cents")
        )
    )
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("bal_cents") > F.col("avg_cents")
    )
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal_cents").alias("total_bal_cents"),
        )
        .orderBy("c_mktsegment")
    )


Q22_SQL = """
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS total_bal_cents
FROM customer
WHERE CAST(round(c_acctbal * 100) AS BIGINT) >
      (SELECT CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
              / COUNT(*)
       FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q6 shape: single-table conjunctive range filter + scalar aggregate
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue increase if discounts in [0.05, 0.07] on small quantities had
    been eliminated: the canonical pushdown probe — every predicate reaches
    the parquet scan (shipdate min/max row-group skipping, discount and
    quantity range filters), then ONE partial+final agg with no shuffle of
    raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & (_dec("l_discount", 4, 2) >= F.lit(0.05).cast("decimal(4,2)"))
            & (_dec("l_discount", 4, 2) <= F.lit(0.07).cast("decimal(4,2)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", 4, 2))
            .cast("double")
            .alias("revenue")
        )
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN CAST(0.05 AS DECIMAL(4,2))
                                           AND CAST(0.07 AS DECIMAL(4,2))
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q2 shape: min-per-group join-back (min-cost supplier per part in a region)
# ---------------------------------------------------------------------------

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each STANDARD small part, the EUROPE supplier(s) offering the
    lowest observed price. The supply relation is derived from lineitem
    (min extendedprice in exact cents per part-supplier pair); the
    correlated MIN subquery decorrelates to a per-part aggregate joined back
    to the offers — the offers view is computed once and feeds both sides.
    Supplier/nation/region are broadcast; the only fact-scale shuffle is the
    offers groupBy on (partkey, suppkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )

    eur_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal") * 100).cast("long").alias("bal_cents"),
            "n_name",
        )
    )
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "offer_cents"
        )
    )
    eur_offers = offers.join(
        F.broadcast(eur_supp), offers.l_suppkey == eur_supp.s_suppkey
    )
    min_per_part = eur_offers.groupBy("l_partkey").agg(
        F.min("offer_cents").alias("min_cents")
    )
    return (
        eur_offers.join(
            min_per_part.withColumnRenamed("l_partkey", "mp_key"),
            (F.col("l_partkey") == F.col("mp_key"))
            & (F.col("offer_cents") == F.col("min_cents")),
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            "bal_cents",
            "s_name",
            "n_name",
            "p_partkey",
            F.col("offer_cents").alias("min_offer_cents"),
        )
        .orderBy(F.desc("bal_cents"), "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH offers AS (
  SELECT l_partkey AS p_key, l_suppkey AS s_key,
         CAST(MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS offer_cents
  FROM lineitem GROUP BY 1, 2),
eur AS (
  SELECT o.p_key, o.offer_cents, s_name,
         CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents, n_name
  FROM offers o
  JOIN supplier ON s_suppkey = o.s_key
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE')
SELECT bal_cents, s_name, n_name, p_partkey, offer_cents AS min_offer_cents
FROM eur JOIN part ON p_partkey = eur.p_key
WHERE p_type = 'STANDARD' AND p_size <= 10
  AND offer_cents = (SELECT MIN(e2.offer_cents) FROM eur e2
                     WHERE e2.p_key = eur.p_key)
ORDER BY bal_cents DESC, s_name, p_partkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q7 shape: bidirectional nation-pair volume (two aliased nation joins)
# ---------------------------------------------------------------------------

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping volume between NATION_1 and NATION_2 (both directions) per
    shipdate year. The nation dimension joins twice under different aliases
    (supplier side, customer side); the disjunctive pair filter is applied
    after both joins. lineitem⋈orders is the only fact-fact shuffle;
    customer joins shuffle-side at warehouse scale while supplier/nation
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_revenue().cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(vol) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS vol
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1999-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) t
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# Q8 shape: market-share ratio (conditional sum over a 6-way star)
# ---------------------------------------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_5's share of ECONOMY-part revenue sold to ASIA customers, per
    order year: numerator is a CASE-gated copy of the denominator inside ONE
    aggregate pass over the joined star. All dimensions broadcast; the
    lineitem⋈orders equi-join carries the fact rows exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey")
    )
    vol = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2)
    )
    gated = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(
        F.lit(0).cast("decimal(16,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n2_rkey") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(gated).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT year(o_orderdate) AS o_year,
       round(CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
                           THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                * (CAST(1 AS DECIMAL(4,2))
                                   - CAST(l_discount AS DECIMAL(4,2)))
                           ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(4,2))
                           - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
             6) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region   ON n2.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '2000-01-01'
GROUP BY o_year
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# Q9 shape: product-line profit by supplier nation and year
# ---------------------------------------------------------------------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on LARGE parts per supplier nation per order year, where cost
    is modeled as half the part's retail price per unit (the schema has no
    ps_supplycost). All arithmetic stays in DECIMAL until the final cast so
    both engines sum identical exact values."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "LARGE")
    amount = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", 4, 2)
    ) - F.lit(0.5).cast("decimal(2,1)") * _dec("p_retailprice") * _dec("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("profit"))
        .orderBy("n_name", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name, year(o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                - CAST(0.5 AS DECIMAL(2,1))
                  * CAST(p_retailprice AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'LARGE'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


# ---------------------------------------------------------------------------
# Q11 shape: global-fraction HAVING (important supply values)
# ---------------------------------------------------------------------------

def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose supply value from NATION_3/NATION_4 suppliers exceeds
    0.1% of the total such value. The per-part aggregate is computed once;
    the global total is a second aggregate OVER THE PER-PART RESULT (tiny),
    broadcast back as a scalar — the fact table is scanned exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_4")
    )
    nat_supp = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    vals = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "value_cents"
            )
        )
    )
    total = vals.agg(F.sum("value_cents").alias("total_cents"))
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("value_cents") > F.lit(0.001) * F.col("total_cents"))
        .select(F.col("l_partkey").alias("p_partkey"), "value_cents")
        .orderBy(F.desc("value_cents"), "p_partkey")
    )


Q11_SQL = """
WITH vals AS (
  SELECT l_partkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_4')
  GROUP BY l_partkey)
SELECT l_partkey AS p_partkey, value_cents
FROM vals
WHERE value_cents > 0.001 * (SELECT CAST(SUM(value_cents) AS BIGINT) FROM vals)
ORDER BY value_cents DESC, p_partkey
"""


# ---------------------------------------------------------------------------
# Q16 shape: distinct supplier count per part attrs, with supplier exclusion
# ---------------------------------------------------------------------------

def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many distinct suppliers serve each (brand, type, size) bucket,
    excluding one brand, PROMO parts, and suppliers in arrears (negative
    balance — the schema's stand-in for TPC-H's complaint comment match).
    The supply relation is the distinct part-supp pairs of lineitem; the
    exclusion is a broadcast anti-join BEFORE the expensive distinct-count
    shuffle so excluded rows never enter it."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#21")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size") <= 25)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(bad_supp), pairs.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#21' AND p_type <> 'PROMO' AND p_size <= 25
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q20 shape: correlated-threshold semi-join (suppliers with excess stock)
# ---------------------------------------------------------------------------

def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers holding 'excess' supply of SMALL parts: for some part they
    supply, their all-time shipped quantity exceeds 4x their 1998 shipped
    quantity (and they did ship in 1998) — TPC-H Q20's availqty > 1/2
    year-qty threshold re-expressed on the derived supply relation. Both
    the total and the year-gated sum come out of ONE aggregate pass
    (CASE-gated column), then a semi-join selects the suppliers."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "SMALL")
    supp = load_table(spark, sf_dir, "supplier")
    qty98 = F.when(
        F.year("l_shipdate") == 1998, F.col("l_quantity")
    ).otherwise(F.lit(0.0))
    per_pair = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum("l_quantity").cast("long").alias("qty_total"),
            F.sum(qty98).cast("long").alias("qty_1998"),
        )
        .where((F.col("qty_1998") > 0) & (F.col("qty_total") > 4 * F.col("qty_1998")))
    )
    return (
        supp.join(
            per_pair, supp.s_suppkey == per_pair.l_suppkey, "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'SMALL'
  GROUP BY l_partkey, l_suppkey
  HAVING CAST(SUM(CASE WHEN year(l_shipdate) = 1998
                       THEN l_quantity ELSE 0 END) AS BIGINT) > 0
     AND CAST(SUM(l_quantity) AS BIGINT) >
         4 * CAST(SUM(CASE WHEN year(l_shipdate) = 1998
                           THEN l_quantity ELSE 0 END) AS BIGINT))
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q21 shape: EXISTS + NOT EXISTS double self-join (sole late supplier)
# ---------------------------------------------------------------------------

def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the SOLE late shipper (>60 days after order date)
    on finished multi-supplier orders. The EXISTS (another supplier on the
    order) becomes a left-semi self-join and the NOT EXISTS (another LATE
    supplier) a left-anti self-join against the same late-lines view — both
    hash-partition on l_orderkey, so the two self-joins co-locate with no
    extra fact shuffle beyond the first."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_key"), F.col("l_suppkey").alias("s2_key")
    ).distinct()
    late_others = late.select(
        F.col("l_orderkey").alias("o3_key"), F.col("l_suppkey").alias("s3_key")
    ).distinct()
    sole_late = (
        late.join(
            others,
            (F.col("o2_key") == F.col("l_orderkey"))
            & (F.col("s2_key") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("o3_key") == F.col("l_orderkey"))
            & (F.col("s3_key") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        sole_late.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders   ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "q4_late_order_priority": q4_late_order_priority,
    "q10_returned_revenue": q10_returned_revenue,
    "q12_priority_linestatus": q12_priority_linestatus,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q14_promo_revenue_share": q14_promo_revenue_share,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q18_large_volume_orders": q18_large_volume_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_idle_rich_customers": q22_idle_rich_customers,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_important_parts": q11_important_parts,
    "q16_supplier_count": q16_supplier_count,
    "q20_excess_suppliers": q20_excess_suppliers,
    "q21_waiting_suppliers": q21_waiting_suppliers,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_region_revenue": Q5_SQL,
    "q4_late_order_priority": Q4_SQL,
    "q10_returned_revenue": Q10_SQL,
    "q12_priority_linestatus": Q12_SQL,
    "q13_order_count_distribution": Q13_SQL,
    "q14_promo_revenue_share": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q17_small_qty_revenue": Q17_SQL,
    "q18_large_volume_orders": Q18_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q22_idle_rich_customers": Q22_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q11_important_parts": Q11_SQL,
    "q16_supplier_count": Q16_SQL,
    "q20_excess_suppliers": Q20_SQL,
    "q21_waiting_suppliers": Q21_SQL,
}
