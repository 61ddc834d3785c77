"""The spark.sql surface and SQL-feature parity: register the star schema
as temp views and run plain ANSI SQL against them — how a SQL-first user
consumes this engine — plus the SQL features whose semantics must match
DuckDB's (NULL handling, bitwise ops, RANGE frames, first/last/nth values,
positional explode, array set algebra, exact DECIMAL, UDAF/UDTF and Python
data sources).

The flagship property here: the query string handed to ``spark.sql`` IS the
oracle string (one dialect-neutral text, two engines). Any aggregate that
would be float-order-sensitive is expressed in exact integer cents so the
shared text is also hash-identical.
"""

# NOTE: no `from __future__ import annotations` here — stringified
# annotations would defeat pandas_udf's type-hint eval-type inference
# (udaf_trimmed_mean), forcing the deprecated PandasUDFType enum instead.
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..sources.readers import load_table, staged
from .search_queries import _oracle_tokens


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (idempotent) so
    ``spark.sql(...)`` works against the same names the DuckDB oracle sees."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# One text, two engines: runs verbatim under Spark SQL AND DuckDB.
SQL_REGION_ROLLUP = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def sql_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_REGION_ROLLUP)


# One text, two engines: a correlated LATERAL subquery (top-2 orders per
# customer) — the SQL-level form of the per-group top-k that
# window_topk_per_group expresses in the DataFrame API. Spark decorrelates
# the LATERAL into a ranked join; DuckDB runs it natively; the shared text
# carries full tie-break keys so both engines emit identical rows.
SQL_LATERAL_TOPK = """
SELECT c_mktsegment, c_custkey, o_orderkey, o_totalprice
FROM customer, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
"""


def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_LATERAL_TOPK)


def udtf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4): a user-defined TABLE function expanding
    each document into its top-3 terms (count desc, term asc) via a LATERAL
    call — the sanctioned modern form of the reference's hand-rolled
    mapper-as-UDTF pipeline (app/mapreduce/mapper1.py:22-23, SURVEY.md
    §2.9). Python UDTFs are the *slow path* by policy (SCALING.md §1);
    this query exists for API parity, and its oracle is the equivalent
    relational explode + count + row_number, proving the UDTF output is
    reproducible by native operators."""
    from pyspark.sql.functions import udtf

    # useArrow: the UDTF exchanges Arrow batches instead of pickled rows
    # (ArrowEvalPythonUDTF in the plan, not BatchEvalPython) — the same
    # vectorized-boundary policy as every pandas_udf in this repo
    @udtf(returnType="term: string, cnt: int, rnk: int", useArrow=True)
    class TopTerms:
        def eval(self, text: str):
            from collections import Counter

            toks = [t for t in (text or "").split(" ") if t]
            best = sorted(
                Counter(toks).items(), key=lambda kv: (-kv[1], kv[0])
            )[:3]
            for i, (term, cnt) in enumerate(best, 1):
                yield term, cnt, i

    spark.udtf.register("top_terms", TopTerms)
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT doc_id, t.term, t.cnt, t.rnk "
        "FROM documents, LATERAL top_terms(text) t "
        "ORDER BY doc_id, rnk"
    )


UDTF_TOP_TERMS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
cnt AS (
  SELECT doc_id, tok AS term, CAST(COUNT(*) AS INTEGER) AS cnt
  FROM tok WHERE tok <> '' GROUP BY doc_id, tok),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY cnt DESC, term) AS INTEGER)
              AS rnk
  FROM cnt)
SELECT doc_id, term, cnt, rnk FROM r WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


# RECURSIVE CTE (Spark 4 WITH RECURSIVE) walking the co-purchase graph
# from its smallest node. Two scale lessons are baked into the shape:
# 1. The recursive term SELECTs DISTINCT — with plain UNION ALL the
#    recursion enumerates WALKS (combinatorial in a cyclic graph); the
#    per-level DISTINCT collapses each level to its BFS frontier, making
#    the cost per level ∝ frontier × avg-degree. The dist < 4 guard bounds
#    depth (the standard's UNION-ALL recursion never terminates on cycles).
# 2. Spark re-evaluates non-recursive CTE subplans referenced inside the
#    loop ON EVERY LEVEL (measured 19 s at sf0.1 with the edge build
#    inlined vs ~1 s materialized), so the Spark side materializes the
#    adjacency list to parquet once and recurses over the view; the DuckDB
#    oracle runs the logically-identical standalone text below.
# Shortest distances come from the MIN(dist) reaggregation — the same
# result as graph_bfs_3hop's iterative joins, one hop deeper, expressed
# declaratively. Production reachability at 100 TB stays on the iterative
# min-label form (dedup_cluster_components); this pins SQL-surface parity.
SQL_RECURSIVE_REACHABILITY = """
WITH RECURSIVE
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
adj AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
walk(node, dist) AS (
  SELECT MIN(u) AS node, 0 AS dist FROM adj
  UNION ALL
  SELECT DISTINCT a.v AS node, w.dist + 1 AS dist
  FROM walk w JOIN adj a ON a.u = w.node
  WHERE w.dist < 4),
best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM best GROUP BY dist ORDER BY dist
"""

_RECURSION_OVER_VIEW = """
WITH RECURSIVE
walk(node, dist) AS (
  SELECT MIN(u) AS node, 0 AS dist FROM copurchase_adj
  UNION ALL
  SELECT DISTINCT a.v AS node, w.dist + 1 AS dist
  FROM walk w JOIN copurchase_adj a ON a.u = w.node
  WHERE w.dist < 4),
best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM best GROUP BY dist ORDER BY dist
"""


def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .graph_queries import _copurchase_edges

    def build(path: str) -> None:
        edges = _copurchase_edges(spark, sf_dir)
        adj = edges.select("u", "v").unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        adj.write.mode("overwrite").parquet(path)

    register_views(spark, sf_dir)
    path = staged(sf_dir, "adj_rec", build)
    spark.read.parquet(path).createOrReplaceTempView("copurchase_adj")
    return spark.sql(_RECURSION_OVER_VIEW)


# One text, two engines: GROUP BY ALL (Spark 3.4+/DuckDB dialect sugar that
# groups on every non-aggregate select item). Exact-integer cents keep the
# SUM order-independent and hash-stable.
SQL_GROUP_BY_ALL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY ALL
ORDER BY o_orderstatus, o_orderpriority
"""


def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_GROUP_BY_ALL)


def bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise / integer scalar-function parity: and/or/xor, shifts,
    popcount, factorial, and hex formatting — all native JVM expressions
    inside one WholeStageCodegen projection (no shuffle, no UDF)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr("p_partkey & 255").alias("and_255"),
        F.expr("p_partkey | 4096").alias("or_4096"),
        F.expr("p_partkey ^ 1023").alias("xor_1023"),
        F.shiftleft(F.col("p_size"), 3).alias("size_shl3"),
        F.shiftright(F.col("p_partkey"), 4).alias("key_shr4"),
        F.bit_count(F.col("p_partkey")).alias("key_popcount"),
        F.factorial(F.col("p_size") % 10).alias("size_fact"),
        F.lower(F.conv(F.col("p_partkey").cast("string"), 10, 16)).alias(
            "key_hex"
        ),
    )


BITWISE_SQL = """
SELECT p_partkey,
       p_partkey & 255 AS and_255,
       p_partkey | 4096 AS or_4096,
       xor(p_partkey, 1023) AS xor_1023,
       p_size << 3 AS size_shl3,
       p_partkey >> 4 AS key_shr4,
       bit_count(p_partkey) AS key_popcount,
       CAST(factorial(CAST(p_size % 10 AS INTEGER)) AS BIGINT) AS size_fact,
       printf('%x', p_partkey) AS key_hex
FROM part
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE window frame (vs the ROWS frames elsewhere): for every
    event, how many events of the same type fall within the 1000-cent value
    band below it, and their cent sum. RANGE frames include peers by VALUE,
    so ties contribute identically on both engines regardless of physical
    row order — the frame is a pure function of the cents column."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(-1000, W.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        "cents",
        F.count("*").over(w).alias("n_in_band"),
        F.sum("cents").over(w).alias("band_cents"),
    )


WINDOW_RANGE_SQL = """
SELECT event_id, event_type,
       CAST(round(value * 100) AS BIGINT) AS cents,
       COUNT(*) OVER w AS n_in_band,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
         AS band_cents
FROM events
WINDOW w AS (PARTITION BY event_type
             ORDER BY CAST(round(value * 100) AS BIGINT)
             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# first/last/nth window value functions
# ---------------------------------------------------------------------------

def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit full-partition
    frame (the parity batch covered ranking, lag/lead, distribution, RANGE
    and unordered frames; the value-extraction trio was the remaining window
    family). The frame MUST be unbounded-both-ends: the default frame stops
    at CURRENT ROW, which silently turns last_value into "current value" —
    a classic window bug this query pins down on both engines."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    w = (
        W.partitionBy("c_mktsegment")
        .orderBy("bal_cents", "c_custkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        c.select(
            "c_mktsegment",
            F.first("c_custkey").over(w).alias("poorest_cust"),
            F.nth_value("c_custkey", 3).over(w).alias("third_poorest_cust"),
            F.last("c_custkey").over(w).alias("richest_cust"),
        )
        .distinct()
    )


FIRST_LAST_NTH_SQL = """
SELECT DISTINCT c_mktsegment,
       first_value(c_custkey) OVER w AS poorest_cust,
       nth_value(c_custkey, 3) OVER w AS third_poorest_cust,
       last_value(c_custkey) OVER w AS richest_cust
FROM (SELECT c_mktsegment, c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer)
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal_cents, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# Positional explode (ordinality)
# ---------------------------------------------------------------------------

def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token stream WITH ORDINALITY: posexplode attaches each token's
    1-based position — the operator behind positional n-gram features and
    span labeling (plain explode, as used by the index builder, forgets
    order). Zero shuffles: generator + projection pipelined in one stage."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    return toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    ).withColumn("pos", (F.col("pos") + 1).cast("long"))


POSEXPLODE_SQL = f"""
WITH t AS (
  SELECT doc_id, {_oracle_tokens()} AS toks
  FROM documents WHERE doc_id % 20 = 0)
SELECT doc_id,
       unnest(range(1, len(toks) + 1)) AS pos,
       unnest(toks) AS term
FROM t
"""


# ---------------------------------------------------------------------------
# Array set algebra
# ---------------------------------------------------------------------------

def array_set_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on token arrays (array_intersect/union/except + Jaccard)
    between each document's first and second 40-token windows — the
    column-native primitive under shingle overlap and vocabulary drift
    checks. All per-row array expressions inside one codegen stage; no
    shuffle, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    ab = toks.select(
        "doc_id",
        F.array_distinct(F.slice("t", 1, 40)).alias("a"),
        F.array_distinct(F.slice("t", 41, 40)).alias("b"),
    )
    sized = ab.select(
        "doc_id",
        F.size("a").alias("n_a"),
        F.size("b").alias("n_b"),
        F.size(F.array_intersect("a", "b")).alias("n_common"),
        F.size(F.array_union("a", "b")).alias("n_vocab"),
        F.size(F.array_except("a", "b")).alias("n_only_first"),
    )
    return sized.withColumn(
        "jaccard",
        F.when(
            F.col("n_vocab") > 0,
            F.round(F.col("n_common") / F.col("n_vocab"), 6),
        ),
    )


ARRAY_SET_SQL = f"""
WITH t AS (
  SELECT doc_id, {_oracle_tokens()} AS toks
  FROM documents),
ab AS (
  SELECT doc_id, list_distinct(toks[1:40]) AS a, list_distinct(toks[41:80]) AS b
  FROM t),
sized AS (
  SELECT doc_id,
         len(a) AS n_a, len(b) AS n_b,
         len(list_distinct(list_intersect(a, b))) AS n_common,
         len(list_distinct(list_concat(a, b))) AS n_vocab,
         len(list_filter(a, x -> NOT list_contains(b, x))) AS n_only_first
  FROM ab)
SELECT doc_id, n_a, n_b, n_common, n_vocab, n_only_first,
       CASE WHEN n_vocab > 0 THEN round(n_common / n_vocab, 6) END AS jaccard
FROM sized
"""


# ---------------------------------------------------------------------------
# Exact DECIMAL aggregation
# ---------------------------------------------------------------------------

def decimal_exact_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money aggregation in DECIMAL(18,2) — the type-system answer to float
    drift (elsewhere the registry uses integer cents; this query gates the
    decimal path itself). The double→decimal boundary is crossed ONCE, via
    the registry's portable cents rounding (round(x·100) → BIGINT — Spark
    rounds the double's shortest decimal string HALF_UP, DuckDB rounds the
    binary value, and they only provably agree at the integer grain); from
    there everything is exact decimal arithmetic: cents × 0.01 as a
    DECIMAL×DECIMAL product, summed in a widened decimal accumulator, cast
    to double at the very end. One hash aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = "CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))"
    disc_cents = (
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS DECIMAL(18,0))"
    )
    d = li.select(
        "l_returnflag",
        "l_linestatus",
        F.expr(f"{cents} * CAST(0.01 AS DECIMAL(3,2))").alias("price_d"),
        F.expr(f"{disc_cents} * CAST(0.01 AS DECIMAL(3,2))").alias("disc_price_d"),
    )
    return (
        d.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("price_d").cast("double").alias("sum_price"),
            F.sum("disc_price_d").cast("double").alias("sum_disc_price"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


DECIMAL_AGG_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))
                * CAST(0.01 AS DECIMAL(3,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS DECIMAL(18,0))
                * CAST(0.01 AS DECIMAL(3,2))) AS DOUBLE) AS sum_disc_price,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Python DataSource API (Spark 4)
# ---------------------------------------------------------------------------

def python_datasource_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A table from a USER-DEFINED Python data source (Spark 4's
    ``pyspark.sql.datasource`` API): a generated calendar dimension,
    partitioned one-split-per-month so the read parallelizes like any other
    source. Exercises the full custom-source contract — name/schema/reader/
    partitions — the extension point for reading systems Spark has no
    built-in connector for. The query rolls the dimension up per month;
    the oracle regenerates the same calendar with generate_series."""
    from ..sources.pyds import CalendarDataSource

    spark.dataSource.register(CalendarDataSource)
    cal = spark.read.format("calendar").option("year", "1995").load()
    return (
        cal.groupBy("month")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.col("is_weekend").cast("long")).alias("n_weekend"),
            F.min("day").alias("first_day"),
        )
        .orderBy("month")
    )


PY_DATASOURCE_SQL = """
WITH cal AS (
  SELECT CAST(d AS DATE) AS day,
         month(CAST(d AS DATE)) AS month,
         isodow(CAST(d AS DATE)) >= 6 AS is_weekend
  FROM generate_series(DATE '1995-01-01', DATE '1995-12-31', INTERVAL 1 DAY)
       gs(d))
SELECT CAST(month AS INTEGER) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CAST(is_weekend AS BIGINT)) AS BIGINT) AS n_weekend,
       MIN(day) AS first_day
FROM cal GROUP BY month ORDER BY month
"""


def udaf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF surface (``pandas_udf`` GROUPED_AGG): a per-event-type
    10%-trimmed mean — the robust-location aggregate built-ins don't ship.
    The UDF receives each group's values as ONE Arrow-backed numpy array
    (vectorized; PythonUDAF in the plan, never row-at-a-time), and all
    arithmetic is integer cents with a single floor division, so the result
    is bit-exact across engines and partitionings. Python's ``//`` floors;
    the oracle mirrors it with ``floor(sum/cnt)`` in double (the sum is
    far below 2^53, so the double division is exact) — robust even if a
    regenerated fixture ships negative values, where DuckDB's integer
    ``//`` (truncating) would diverge.

    Scale note: GROUPED_AGG materializes each group's values in executor
    memory — fine for bounded groups (event types); for unbounded groups
    the rank-filtered SQL form (the oracle's shape) is the scale path.
    This query pins the API surface, like udtf_top_terms.

    Single pass: Spark disallows mixing a GROUPED_AGG pandas UDF with
    native aggregates in one ``agg()``, but multiple GROUPED_AGG UDFs
    compose — so the group count rides along as a second vectorized UDAF
    over the same Arrow batch (one shuffle, no join-back). Eval type is
    inferred from the ``pd.Series -> int`` hints (the non-deprecated
    Spark 3/4 API); this module deliberately has no
    ``from __future__ import annotations``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _trimmed(cents: pd.Series) -> int:
        v = cents.sort_values().to_numpy()
        k = len(v) // 10
        kept = v[k : len(v) - k] if len(v) > 2 * k else v
        return int(kept.sum()) // len(kept)

    def _size(cents: pd.Series) -> int:
        return len(cents)

    trimmed_mean_cents = pandas_udf(_trimmed, "long")
    group_size = pandas_udf(_size, "long")

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return (
        cents.groupBy("event_type")
        .agg(
            group_size("cents").alias("n_events"),
            trimmed_mean_cents("cents").alias("trimmed_mean_cents"),
        )
        .orderBy("event_type")
    )


UDAF_TRIMMED_MEAN_SQL = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM c)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(floor(CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                             THEN cents END) AS DOUBLE)
                  / (MAX(n) - 2 * (MAX(n) // 10))) AS BIGINT)
         AS trimmed_mean_cents
FROM r GROUP BY event_type ORDER BY event_type
"""


def null_semantics_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential NULL-semantics probe — the classic cross-engine
    divergence area, pinned as one hash-gated summary row. Derives NULLs
    from the customer table (every 7th nation key, negative balances) and
    checks, in one pass plus two bounded self-joins:
    - COUNT(*) vs COUNT(col) vs COUNT(DISTINCT col) null exclusion,
    - GROUP BY collapsing all NULL keys into ONE group,
    - inner equi-join dropping NULL keys entirely,
    - null-safe equality (Spark ``<=>`` / SQL IS NOT DISTINCT FROM)
      matching NULL to NULL,
    - SUM/AVG ignoring NULLs (integer cents, one rounded division).
    The joins are on a 25-value key domain — bounded; the final assembly
    cross-joins three 1-row aggregates (whitelisted scalars)."""
    cust = load_table(spark, sf_dir, "customer")
    t = cust.select(
        "c_custkey",
        F.when(F.col("c_nationkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
        F.when(
            F.col("c_acctbal") < 0, F.lit(None).cast("long")
        )
        .otherwise(F.round(F.col("c_acctbal") * 100).cast("long"))
        .alias("bal_cents"),
    )
    base = t.agg(
        F.count("*").alias("n_rows"),
        F.count("nk").alias("n_nk_notnull"),
        F.countDistinct("nk").alias("n_nk_distinct"),
        (F.countDistinct("nk") + F.max(F.col("nk").isNull().cast("long"))).alias(
            "n_groups_incl_null"
        ),
        F.sum("bal_cents").alias("sum_bal_cents"),
        F.count(F.when(F.col("bal_cents").isNull(), 1)).alias("n_bal_null"),
    )
    a = t.select(F.col("nk").alias("k1"))
    b = t.select(F.col("nk").alias("k2"))
    inner = a.join(b, a.k1 == b.k2).agg(
        F.count("*").alias("inner_join_rows")
    )
    nullsafe = a.join(b, a.k1.eqNullSafe(b.k2)).agg(
        F.count("*").alias("nullsafe_join_rows")
    )
    return base.crossJoin(F.broadcast(inner)).crossJoin(
        F.broadcast(nullsafe)
    )


NULL_SEMANTICS_SQL = """
WITH t AS (
  SELECT c_custkey,
         CASE WHEN c_nationkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk,
         CASE WHEN c_acctbal < 0 THEN NULL
              ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS bal_cents
  FROM customer),
base AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(nk) AS n_nk_notnull,
         CAST(COUNT(DISTINCT nk) AS BIGINT) AS n_nk_distinct,
         CAST(COUNT(DISTINCT nk)
              + MAX(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_groups_incl_null,
         CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents,
         COUNT(CASE WHEN bal_cents IS NULL THEN 1 END) AS n_bal_null
  FROM t),
inner_j AS (
  SELECT COUNT(*) AS inner_join_rows
  FROM t a JOIN t b ON a.nk = b.nk),
nullsafe_j AS (
  SELECT COUNT(*) AS nullsafe_join_rows
  FROM t a JOIN t b ON a.nk IS NOT DISTINCT FROM b.nk)
SELECT * FROM base, inner_j, nullsafe_j
"""



def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("int").alias("brand_num"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


STRING_SQL = """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       LENGTH(p_name) AS name_len,
       SUBSTRING(p_type, 1, 5) AS type_prefix,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INTEGER) AS brand_num,
       LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       REPLACE(p_type, ' ', '_') AS type_snake
FROM part
"""


def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 500)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.lit("2001-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias("days_to_2001"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
    )


DATE_SQL = """
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
       CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS order_day,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS order_quarter,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-01-01') AS INTEGER) AS days_to_2001,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       strftime(o_orderdate, '%Y-%m') AS year_month
FROM orders WHERE o_orderkey <= 500
"""


def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.abs("c_acctbal").alias("abs_bal"),
        F.floor("c_acctbal").cast("long").alias("floor_bal"),
        F.ceil("c_acctbal").cast("long").alias("ceil_bal"),
        F.round(F.sqrt(F.abs("c_acctbal")), 6).alias("sqrt_bal"),
        F.round(F.log(F.abs(F.col("c_acctbal")) + 1.0), 6).alias("ln_bal"),
        # x*x, not pow(x,2): IEEE multiply is correctly rounded on every
        # engine, while Java Math.pow vs libm pow differ by 1 ulp on ~1e-3
        # of inputs (16/15k customers at sf0.1)
        (F.col("c_acctbal") * F.col("c_acctbal")).alias("bal_sq"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_pos"),
        F.sign("c_acctbal").alias("bal_sign"),
    )


MATH_SQL = """
SELECT c_custkey,
       ABS(c_acctbal) AS abs_bal,
       CAST(FLOOR(c_acctbal) AS BIGINT) AS floor_bal,
       CAST(CEIL(c_acctbal) AS BIGINT) AS ceil_bal,
       ROUND(SQRT(ABS(c_acctbal)), 6) AS sqrt_bal,
       ROUND(LN(ABS(c_acctbal) + 1.0), 6) AS ln_bal,
       c_acctbal * c_acctbal AS bal_sq,
       GREATEST(c_acctbal, 0.0) AS bal_pos,
       CAST(SIGN(c_acctbal) AS DOUBLE) AS bal_sign
FROM customer
"""


def case_when_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(default)")
        ).alias("segment_or_default"),
        F.col("c_acctbal").isNull().cast("int").alias("bal_is_null"),
    )


CASE_SQL = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debtor'
            WHEN c_acctbal < 1000 THEN 'low'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'high' END AS bal_band,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(default)') AS segment_or_default,
       CAST(c_acctbal IS NULL AS INTEGER) AS bal_is_null
FROM customer
"""


def array_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column — transform,
    filter, aggregate (left fold), slice — all JVM-side codegen expressions,
    zero UDFs. Float math stays portable because both engines fold
    left-to-right over the same double-cast elements (and results are
    rounded to 6)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("vec_sum"),
        F.round(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x), 6
        ).alias("vec_sumsq"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("head8_sum"),
    )


ARRAY_HOF_SQL = """
WITH v AS (
  SELECT vec_id, len(embedding) AS dim,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings)
SELECT vec_id, dim,
       round(list_reduce(list_prepend(0.0, vd), (a, x) -> a + x), 6) AS vec_sum,
       round(list_reduce(list_prepend(0.0, vd), (a, x) -> a + x * x), 6) AS vec_sumsq,
       len(list_filter(vd, x -> x > 0)) AS n_positive,
       round(list_reduce(list_prepend(0.0, vd[1:8]), (a, x) -> a + x), 6) AS head8_sum
FROM v
"""


QUERIES = {
    "sql_group_by_all": sql_group_by_all,
    "sql_region_rollup": sql_region_rollup,
    "sql_lateral_topk": sql_lateral_topk,
    "udtf_top_terms": udtf_top_terms,
    "sql_recursive_reachability": sql_recursive_reachability,
    "bitwise_funcs": bitwise_funcs,
    "window_range_frame": window_range_frame,
    "window_first_last_nth": window_first_last_nth,
    "posexplode_tokens": posexplode_tokens,
    "array_set_funcs": array_set_funcs,
    "decimal_exact_agg": decimal_exact_agg,
    "python_datasource_calendar": python_datasource_calendar,
    "udaf_trimmed_mean": udaf_trimmed_mean,
    "null_semantics_parity": null_semantics_parity,
    "array_hof_funcs": array_hof_funcs,
    "string_funcs": string_funcs,
    "date_funcs": date_funcs,
    "math_funcs": math_funcs,
    "case_when_null": case_when_null,
}

ORACLES = {
    "sql_group_by_all": SQL_GROUP_BY_ALL,
    "sql_region_rollup": SQL_REGION_ROLLUP,
    "sql_lateral_topk": SQL_LATERAL_TOPK,
    "udtf_top_terms": UDTF_TOP_TERMS_SQL,
    "sql_recursive_reachability": SQL_RECURSIVE_REACHABILITY,
    "bitwise_funcs": BITWISE_SQL,
    "window_range_frame": WINDOW_RANGE_SQL,
    "window_first_last_nth": FIRST_LAST_NTH_SQL,
    "posexplode_tokens": POSEXPLODE_SQL,
    "array_set_funcs": ARRAY_SET_SQL,
    "decimal_exact_agg": DECIMAL_AGG_SQL,
    "python_datasource_calendar": PY_DATASOURCE_SQL,
    "udaf_trimmed_mean": UDAF_TRIMMED_MEAN_SQL,
    "null_semantics_parity": NULL_SEMANTICS_SQL,
    "array_hof_funcs": ARRAY_HOF_SQL,
    "string_funcs": STRING_SQL,
    "date_funcs": DATE_SQL,
    "math_funcs": MATH_SQL,
    "case_when_null": CASE_SQL,
}
