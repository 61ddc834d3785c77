"""Round-3 query tranche: relational shapes and pipeline operators that were
still missing from the registry after round 2 — skyline (Pareto frontier),
gaps-and-islands, interval merging, time-series interpolation, calendar
gap-fill, weighted median, fixed-point PageRank / BFS over the co-purchase
graph, positional explode, array set algebra, phonetic-free A/B analysis,
DOW×hour heatmaps, and exact DECIMAL aggregation.

Reference parity: none of these exist in the reference (SURVEY.md §2 notes
the absent families); they are driver-mandated extensions in the same spirit
as plans/pipeline_queries.py — each one is a shape a 100 TB training-data
platform actually runs.

Determinism policy (same as the rest of the registry): money/value columns
become integer cents before any arithmetic; timestamps become integer µs;
floats appear only in final single-division ratios or fixed expression trees
that both engines evaluate with identical IEEE-double steps, rounded on both
sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.text import tokenize
from ..operators.materialize import materialize, materialized
from ..sources.readers import load_table
from .graph_queries import _copurchase_edges


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
# Gaps-and-islands
# ---------------------------------------------------------------------------


def islands_active_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity islands: distinct active days collapse into runs of
    consecutive days via the classic day − row_number() grouping key; report
    island count and longest streak. Pure integer arithmetic (epoch days),
    one narrow shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias("day"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    runs = (
        days.withColumn("grp", F.col("day") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.max("run_len").alias("longest_streak"),
    )


ISLANDS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
  FROM events),
runs AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days),
r2 AS (
  SELECT user_id, grp, COUNT(*) AS run_len FROM runs GROUP BY user_id, grp)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(MAX(run_len) AS BIGINT) AS longest_streak
FROM r2 GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Interval merge (coverage)
# ---------------------------------------------------------------------------


def interval_merge_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user activity intervals (each event opens a
    30-minute window) and report merged-block count and total covered time —
    the interval-union operator behind session coverage / SLA uptime
    calculations. Running-max-of-end detects block starts; a running sum of
    the start flags numbers the blocks. All integer µs; one shuffle on
    user_id shared by both windows and the final aggregation."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    iv = ev.select(
        "user_id", us.alias("s"), (us + F.lit(1800000000).cast("long")).alias("e")
    )
    w = W.partitionBy("user_id").orderBy("s", "e")
    prev_end = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_block",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    )
    blocks = (
        flagged.withColumn(
            "grp", F.sum("new_block").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
        .groupBy("user_id", "grp")
        .agg(F.min("s").alias("bs"), F.max("e").alias("be"))
    )
    return blocks.groupBy("user_id").agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.col("be") - F.col("bs")).alias("covered_us"),
    )


INTERVAL_MERGE_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
  FROM events),
f AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER wp IS NULL OR s > max(e) OVER wp
              THEN 1 ELSE 0 END AS new_block
  FROM iv
  WINDOW wp AS (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
g AS (
  SELECT user_id, s, e,
         SUM(new_block) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS grp
  FROM f),
b AS (SELECT user_id, grp, MIN(s) AS bs, MAX(e) AS be
      FROM g GROUP BY user_id, grp)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(be - bs) AS BIGINT) AS covered_us
FROM b GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Linear interpolation between anchors
# ---------------------------------------------------------------------------


def events_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation: for every non-purchase event
    bracketed by two purchases of the same user, interpolate the purchase
    value at the event's timestamp — the standard sensor/price imputation
    between known anchor points (cf. events_forward_fill, which is the
    0th-order version).

    Determinism: anchors and timestamps are integer cents/µs; the
    interpolation ``pc + (nc − pc) · (Δt / T)`` is a fixed IEEE-double
    expression tree evaluated identically by both engines, rounded to 6
    decimals on both sides. Two ignore-nulls windows over one user_id
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    wp = w.rowsBetween(W.unboundedPreceding, -1)
    wn = w.rowsBetween(1, W.unboundedFollowing)
    anchor_c = F.when(F.col("event_type") == "purchase", F.col("cents"))
    anchor_t = F.when(F.col("event_type") == "purchase", F.col("us"))
    x = (
        e.withColumn("pc", F.last(anchor_c, ignorenulls=True).over(wp))
        .withColumn("pt", F.last(anchor_t, ignorenulls=True).over(wp))
        .withColumn("nc", F.first(anchor_c, ignorenulls=True).over(wn))
        .withColumn("nt", F.first(anchor_t, ignorenulls=True).over(wn))
    )
    return x.where(
        (F.col("event_type") != "purchase")
        & F.col("pc").isNotNull()
        & F.col("nc").isNotNull()
        & (F.col("nt") > F.col("pt"))
    ).select(
        "user_id",
        "event_id",
        "cents",
        F.round(
            F.col("pc")
            + (F.col("nc") - F.col("pc"))
            * ((F.col("us") - F.col("pt")) / (F.col("nt") - F.col("pt"))),
            6,
        ).alias("interp_cents"),
    )


INTERPOLATE_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
x AS (
  SELECT user_id, event_id, us, event_type, cents,
    last_value(CASE WHEN event_type = 'purchase' THEN cents END IGNORE NULLS)
      OVER wp AS pc,
    last_value(CASE WHEN event_type = 'purchase' THEN us END IGNORE NULLS)
      OVER wp AS pt,
    first_value(CASE WHEN event_type = 'purchase' THEN cents END IGNORE NULLS)
      OVER wn AS nc,
    first_value(CASE WHEN event_type = 'purchase' THEN us END IGNORE NULLS)
      OVER wn AS nt
  FROM e
  WINDOW wp AS (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wn AS (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT user_id, event_id, cents,
       round(pc + (nc - pc) * ((us - pt) / (nt - pt)), 6) AS interp_cents
FROM x
WHERE event_type <> 'purchase' AND pc IS NOT NULL AND nc IS NOT NULL
  AND nt > pt
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


POSEXPLODE_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks
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


ARRAY_SET_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks
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
# BFS (k-hop reachability)
# ---------------------------------------------------------------------------


def graph_bfs_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node counts by BFS distance (≤3 hops) from the smallest node of the
    co-purchase graph — bounded-depth reachability, the building block of
    neighborhood sampling. Three join+min-reaggregate rounds over the edge
    list (the iterative min-label pattern of dedup_cluster_components with a
    fixed depth); all integers. The oracle unrolls the same three rounds as
    CTEs."""
    edges = _copurchase_edges(spark, sf_dir)
    adj = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    dist = (
        edges.agg(F.min("u").alias("node"))
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for i in (1, 2, 3):
        frontier = (
            dist.join(adj, dist["node"] == adj["u"])
            .select(F.col("v").alias("node"), F.lit(i).cast("long").alias("dist"))
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.groupBy("dist").agg(F.count("*").alias("n_nodes")).orderBy("dist")


BFS_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v HAVING COUNT(*) >= 2),
adj AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
d0 AS (SELECT MIN(u) AS node, 0 AS dist FROM edges),
d1 AS (SELECT node, MIN(dist) AS dist FROM (
         SELECT node, dist FROM d0
         UNION ALL
         SELECT a.v AS node, 1 AS dist FROM d0 JOIN adj a ON a.u = d0.node)
       GROUP BY node),
d2 AS (SELECT node, MIN(dist) AS dist FROM (
         SELECT node, dist FROM d1
         UNION ALL
         SELECT a.v AS node, 2 AS dist FROM d1 JOIN adj a ON a.u = d1.node)
       GROUP BY node),
d3 AS (SELECT node, MIN(dist) AS dist FROM (
         SELECT node, dist FROM d2
         UNION ALL
         SELECT a.v AS node, 3 AS dist FROM d2 JOIN adj a ON a.u = d2.node)
       GROUP BY node)
SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM d3 GROUP BY dist ORDER BY dist
"""


# ---------------------------------------------------------------------------
# Fixed-point PageRank
# ---------------------------------------------------------------------------


def graph_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchase nodes by 3-iteration PageRank (damping 0.85) in
    INTEGER fixed-point: ranks are micro-units (start 1,000,000); each iteration
    is r' = 150000 + (85 · Σ floor(r_u / deg_u)) div 100 — floor division
    everywhere, so the result is bit-exact at any parallelism and on any
    engine (float PageRank is order-dependent in the contribution sum and
    cannot be hash-gated). Each iteration is one shuffle-join + one hash
    aggregation on node id; the oracle unrolls the three iterations."""
    edges = _copurchase_edges(spark, sf_dir)
    # every iteration reads the symmetrized adjacency (bound: 2x the edge
    # list); it is freed before returning, once the 20-row result is computed
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    with materialized(sym) as adj:
        deg = adj.groupBy("u").agg(F.count("*").alias("deg"))
        nodes = deg.select(F.col("u").alias("node"), "deg")
        r = nodes.withColumn("pr", F.lit(1000000).cast("long"))
        for _ in range(3):
            contrib = r.join(adj, r["node"] == adj["u"]).select(
                F.col("v").alias("node"), F.expr("pr div deg").alias("c")
            )
            sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
            r = nodes.join(sums, "node", "left").select(
                "node",
                "deg",
                (F.lit(150000) + F.expr("(85 * coalesce(s, 0)) div 100"))
                .cast("long")
                .alias("pr"),
            )
        return materialize(
            r.select("node", "pr").orderBy(F.desc("pr"), "node").limit(20)
        )


PAGERANK_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v HAVING COUNT(*) >= 2),
adj AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
deg AS (SELECT u AS node, COUNT(*) AS deg FROM adj GROUP BY u),
r0 AS (SELECT node, deg, CAST(1000000 AS BIGINT) AS pr FROM deg),
s1 AS (SELECT a.v AS node, SUM(r.pr // r.deg) AS s
       FROM r0 r JOIN adj a ON a.u = r.node GROUP BY a.v),
r1 AS (SELECT d.node, d.deg,
              CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
       FROM deg d LEFT JOIN s1 s ON s.node = d.node),
s2 AS (SELECT a.v AS node, SUM(r.pr // r.deg) AS s
       FROM r1 r JOIN adj a ON a.u = r.node GROUP BY a.v),
r2 AS (SELECT d.node, d.deg,
              CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
       FROM deg d LEFT JOIN s2 s ON s.node = d.node),
s3 AS (SELECT a.v AS node, SUM(r.pr // r.deg) AS s
       FROM r2 r JOIN adj a ON a.u = r.node GROUP BY a.v),
r3 AS (SELECT d.node, d.deg,
              CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
       FROM deg d LEFT JOIN s3 s ON s.node = d.node)
SELECT node, pr FROM r3 ORDER BY pr DESC, node LIMIT 20
"""


# ---------------------------------------------------------------------------
# A/B experiment readout
# ---------------------------------------------------------------------------


def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B readout: users hash-split into two arms
    (user_id % 2), per-arm distinct users, converters (≥1 purchase),
    conversion rate, and integer-exact revenue per converter — the
    experiment-analysis aggregate every event platform ships. One pass,
    conditional aggregation, no joins."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    purchase_user = F.when(F.col("event_type") == "purchase", F.col("user_id"))
    return (
        e.groupBy("arm")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(purchase_user).alias("n_converted"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(
                    0
                )
            ).alias("purchase_cents"),
        )
        .select(
            "arm",
            "n_users",
            "n_converted",
            F.round(F.col("n_converted") / F.col("n_users"), 6).alias("conv_rate"),
            F.expr("purchase_cents div n_converted").alias("cents_per_converter"),
        )
    )


AB_TEST_SQL = """
WITH e AS (
  SELECT user_id % 2 AS arm, user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
agg AS (
  SELECT arm,
         COUNT(DISTINCT user_id) AS n_users,
         COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
           AS n_converted,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
              AS BIGINT) AS purchase_cents
  FROM e GROUP BY arm)
SELECT arm, CAST(n_users AS BIGINT) AS n_users,
       CAST(n_converted AS BIGINT) AS n_converted,
       round(n_converted / n_users, 6) AS conv_rate,
       CAST(purchase_cents // n_converted AS BIGINT) AS cents_per_converter
FROM agg
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
# DOW × hour heatmap
# ---------------------------------------------------------------------------


def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap by (day-of-week, hour-of-day) — the calendar-grid
    aggregation behind traffic dashboards. Pins down cross-engine DOW
    numbering (Spark: 1=Sunday; DuckDB dayofweek: 0=Sunday — the oracle
    shifts by one). One hash aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour_of_day")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .orderBy("dow", "hour_of_day")
    )


DOW_HEATMAP_SQL = """
SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       CAST(hour(ts) AS INTEGER) AS hour_of_day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY 1, 2 ORDER BY dow, hour_of_day
"""


# ---------------------------------------------------------------------------
# Calendar gap-fill
# ---------------------------------------------------------------------------


def orders_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order counts over 1995-Q1 with zero-filled silent days: a
    generated calendar dimension (sequence + explode — rows from thin air,
    no source table) left-joined to the per-day aggregate. The generated
    side is bounded by the date span, so at 100 TB it is still 90 rows and
    broadcasts; gap-filling never touches the fact table twice."""
    orders = load_table(spark, sf_dir, "orders")
    cal = spark.sql(
        "SELECT explode(sequence(to_date('1995-01-01'), to_date('1995-03-31'),"
        " interval 1 day)) AS day"
    )
    daily = (
        orders.where(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-04-01")
        )
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return (
        cal.join(daily, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"))
        .orderBy("day")
    )


GAPFILL_SQL = """
WITH cal AS (
  SELECT CAST(d AS DATE) AS day
  FROM generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY)
       gs(d)),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-04-01'
  GROUP BY 1)
SELECT c.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_orders
FROM cal c LEFT JOIN daily d ON d.day = c.day
ORDER BY c.day
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
# Native session_window in batch
# ---------------------------------------------------------------------------


def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions via Spark's NATIVE ``session_window`` (30-min gap)
    run in batch mode — the same operator the streaming path uses
    (streaming/stream.py:run_streaming_sessions), gated here against a
    windowed gap-island oracle. Semantics pinned cross-engine: a session
    extends while the next event lands strictly inside [last_event,
    last_event + gap); window end = last event + gap, so duration =
    (max_ts − min_ts) + gap. One shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    return agg.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("session_start_us"),
        (F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start"))).alias(
            "duration_us"
        ),
        "n_events",
        "cents",
    )


SESSION_WINDOW_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
flagged AS (
  SELECT user_id, us, cents,
         CASE WHEN us - lag(us) OVER w >= 1800000000
                OR lag(us) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us)),
g AS (
  SELECT user_id, us, cents,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess
  FROM flagged)
SELECT user_id,
       CAST(MIN(us) AS BIGINT) AS session_start_us,
       CAST(MAX(us) - MIN(us) + 1800000000 AS BIGINT) AS duration_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM g GROUP BY user_id, sess
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


# ---------------------------------------------------------------------------
# Spark 4 VARIANT type
# ---------------------------------------------------------------------------


def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: ``parse_json``
    once into a variant value, then typed ``variant_get`` paths — the
    engine-native answer to schemaless columns (vs per-access string
    re-parsing with get_json_object, gated by events_json_extract). At scale
    a VARIANT column parses each blob once and stores a binary-encoded tree;
    repeated path extractions are then O(path), not O(re-parse)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum(F.col("k") % 2).alias("n_odd_weighted"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


VARIANT_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT) % 2) AS BIGINT)
         AS n_odd_weighted,
       MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
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


QUERIES = {
    "skyline_parts": skyline_parts,
    "islands_active_days": islands_active_days,
    "interval_merge_coverage": interval_merge_coverage,
    "events_linear_interpolate": events_linear_interpolate,
    "window_first_last_nth": window_first_last_nth,
    "posexplode_tokens": posexplode_tokens,
    "array_set_funcs": array_set_funcs,
    "graph_bfs_3hop": graph_bfs_3hop,
    "graph_pagerank_topk": graph_pagerank_topk,
    "ab_test_conversion": ab_test_conversion,
    "weighted_median_price": weighted_median_price,
    "events_dow_hour_heatmap": events_dow_hour_heatmap,
    "orders_daily_gapfill": orders_daily_gapfill,
    "decimal_exact_agg": decimal_exact_agg,
    "events_session_window_native": events_session_window_native,
    "association_rules": association_rules,
    "customer_pareto_8020": customer_pareto_8020,
    "events_variant_extract": events_variant_extract,
    "python_datasource_calendar": python_datasource_calendar,
}

ORACLES = {
    "skyline_parts": SKYLINE_SQL,
    "islands_active_days": ISLANDS_SQL,
    "interval_merge_coverage": INTERVAL_MERGE_SQL,
    "events_linear_interpolate": INTERPOLATE_SQL,
    "window_first_last_nth": FIRST_LAST_NTH_SQL,
    "posexplode_tokens": POSEXPLODE_SQL,
    "array_set_funcs": ARRAY_SET_SQL,
    "graph_bfs_3hop": BFS_SQL,
    "graph_pagerank_topk": PAGERANK_SQL,
    "ab_test_conversion": AB_TEST_SQL,
    "weighted_median_price": WEIGHTED_MEDIAN_SQL,
    "events_dow_hour_heatmap": DOW_HEATMAP_SQL,
    "orders_daily_gapfill": GAPFILL_SQL,
    "decimal_exact_agg": DECIMAL_AGG_SQL,
    "events_session_window_native": SESSION_WINDOW_SQL,
    "association_rules": ASSOCIATION_SQL,
    "customer_pareto_8020": PARETO_SQL,
    "events_variant_extract": VARIANT_SQL,
    "python_datasource_calendar": PY_DATASOURCE_SQL,
}
