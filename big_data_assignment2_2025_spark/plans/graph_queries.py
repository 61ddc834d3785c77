"""Graph analytics over the co-purchase graph (round 2): triangle counting
and degree distribution — the classic relational-graph workloads a
training-data platform runs on entity/co-occurrence graphs (link farms,
citation rings, near-dup clusters).

Graph = part co-purchase edges: two parts are adjacent iff they appear in
>= 2 common orders (the support threshold keeps the fixture graph sparse,
mirroring real co-occurrence pruning). Edges are undirected, stored
canonically (small id < large id).

Determinism: everything is integer counts over integer keys — no floats
anywhere, so results are exact at any parallelism.

Scale notes (100 TB): the edge list derives from one bounded self-join
(pair fan-out <= order_size² per order, see basket_part_pairs). Triangle
counting joins the edge list to itself twice on single-node keys; the
standard skew control at scale is DEGREE ORIENTATION — orient each edge
from its lower-degree endpoint to its higher-degree endpoint, which bounds
per-node adjacency fan-out by sqrt(|E|) (Schank-Wagner / "forward"
algorithm; see e.g. Suri & Vassilvitskii, "Counting Triangles and the
Curse of the Last Reducer", WWW'11). Triangle counts are
orientation-invariant, so the DuckDB oracle uses the simpler canonical
a<b<c form — same answer, different join order.

Reference parity: the reference has no graph surface (SURVEY.md §1 "no
graphs"); this is a driver-mandated extension family alongside
dedup_cluster_components (operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.materialize import materialize
from ..sources.readers import load_table


def _copurchase_edges(spark: SparkSession, sf_dir: str, min_support: int = 2) -> DataFrame:
    """Canonical undirected edge list (u < v) of parts sharing >= min_support
    orders.

    Shape: one self-join on the order key generates co-purchase pairs
    (fan-out <= order_size^2 per order; TPC-H orders hold <= 7 parts, so
    the join is linear in orders, never parts^2), one hash aggregation
    counts per-pair support. The join carries an explicit SHUFFLE_HASH
    hint: the default sort-merge join SORTS both 2x-fact-sized sides,
    which the r8 memory probe measured as 1.6 GB of spill on a squeezed
    heap (and a collect_set basket variant inherits the same sort via
    ObjectHashAggregate's sort-based fallback). A shuffled-hash join
    builds a per-partition map of one side instead — no sort anywhere,
    and the build side is safe by construction: it is the narrow
    (orderkey, partkey) projection, uniformly spread by order key, so
    per-partition build size is |li| / shuffle-partitions, the sizing
    knob a cluster deployment already tunes."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    # The support count is declared over an EXPLICIT repartition on the
    # pair key. Co-purchase pairs barely repeat within a map partition
    # (each order contributes a pair once), so Spark's default
    # partial-then-final aggregation would build a near-useless
    # fan-out-sized hash map INSIDE the join stage — the second half of
    # the r8 spill. With the child already hash-partitioned on (u, v),
    # Catalyst plans one final aggregate in its own stage; the shuffled
    # bytes are the same (partial aggregation wasn't reducing anything),
    # and each stage now holds exactly one bounded hash table.
    edges = (
        a.join(b.hint("shuffle_hash"), "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .repartition("u", "v")
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
        .select("u", "v")
    )
    # Every graph query references the edge list several times (degree
    # union, the oriented-join branches, the peel rounds); computed once,
    # no branch recomputes the lineitem self-join + aggregation. Bound:
    # distinct co-purchase pairs with support >= min_support, orders of
    # magnitude fewer than the fact table's rows.
    return materialize(edges)


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total triangles in the co-purchase graph, via degree orientation:
    each undirected edge becomes a directed edge low-degree → high-degree
    (ties by id), then triangles = directed paths x→y→z closed by a
    directed edge x→z. Every triangle is counted exactly once, and the
    join fan-out per node is bounded by its OUT-degree, which orientation
    caps at O(sqrt(|E|)) — the skew fix for power-law graphs where the
    naive a<b<c join melts the hottest reducer."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # orient: src = endpoint with (smaller degree, then smaller id)
    # three join branches below read it; bound: one row per edge
    oriented = materialize(
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst"))
            )
            .alias("e")
        )
        .select("e.src", "e.dst")
    )
    e1 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    wedges = e1.join(e2, "y")
    return wedges.join(e3, ["x", "z"]).agg(
        F.count("*").alias("n_triangles")
    )


TRIANGLE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
  HAVING COUNT(*) >= 2)
SELECT COUNT(*) AS n_triangles
FROM edges e1
JOIN edges e2 ON e2.u = e1.v
JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
"""


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph: how many nodes have each
    degree — the first diagnostic run on any entity graph (power-law tail
    -> skew risk for downstream joins). Two small hash aggregations over
    the edge list."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    return (
        deg.groupBy("deg")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("deg")
    )


DEGREE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
  HAVING COUNT(*) >= 2),
deg AS (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
  GROUP BY node)
SELECT deg, COUNT(*) AS n_nodes
FROM deg GROUP BY deg ORDER BY deg
"""


def graph_kcore_peel(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """2-core peeling, three unrolled rounds: repeatedly drop nodes with
    degree < 2 and the edges touching them — the standard graph-cleaning
    step before community/cycle analysis (degree-1 chains carry no cyclic
    structure). Each round is one degree aggregation + two semi-joins on
    node id; rounds are data-independent shuffles on the (shrinking) edge
    list, so the 100 TB cost profile is rounds x one edge-list pass. The
    unroll is FIXED at 3 rounds (like graph_bfs_3hop) so the oracle is
    expressible as a plain CTE chain; full convergence would loop until a
    round removes nothing (same per-round plan).

    Output: per-round survivor counts — the readout that says how much of
    the graph is tree-like fuzz vs 2-core."""
    # Iterative LINEAGE discipline (same pattern as operators/graph.py:
    # connected_components): each round's frontier is cut from its history
    # with an eager checkpoint (``materialize``). A persisted plan is NOT
    # enough here — execution is cached but the LOGICAL plan still nests
    # every prior round (~3 references per level), so Catalyst re-analyzes
    # an exponentially growing tree on every action (measured: round-3
    # counts took 5.7 s on a 10-row cached frame; the checkpointed form
    # runs the whole query in ~3 s vs ~11.6 s warm at sf0.1).
    # checkpoint_dir=None uses localCheckpoint (single-node durability); on
    # a real cluster pass a fault-tolerant dir so executor loss mid-peel
    # replays from the last round, not from nothing (SCALING §10) — tested
    # against a local file:// dir in tests/test_graph.py. The round-0 edge
    # list is already materialized by _copurchase_edges. Bounds: each
    # round's survivors, at most the edge list and its node set.
    edges = _copurchase_edges(spark, sf_dir)
    summaries = []
    for rnd in (1, 2, 3):
        # one exploded-stack pass over the edge list, NOT a unionAll of two
        # projections: unionAll re-reads the (checkpointed) edges twice per
        # round, which the r8 memprobe measured as 1.7 GB of aggregation
        # spill at the 10x fixture; explode(array(u, v)) emits the same
        # 2|E| degree rows from a single scan and keeps the map-side
        # partial count on one input stream
        adj = edges.select(
            F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
        )
        keep = materialize(
            adj.groupBy("node")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= 2)
            .select("node"),
            checkpoint_dir,
        )
        new_edges = materialize(
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v"),
            checkpoint_dir,
        )
        summaries.append((rnd, keep.count(), new_edges.count()))
        edges = new_edges
    return spark.createDataFrame(
        summaries, "round long, n_nodes long, n_edges long"
    )


# Every CTE is MATERIALIZED: DuckDB otherwise INLINES CTEs per
# reference, so round k's chain re-expands round k-1 at every mention —
# the unrolled plan grows exponentially and the r11 10x sweep measured
# >55 GB of oracle-side spill. Materialized, each round is evaluated
# once and the working set stays O(edges) — the bounded-intermediate
# rewrite the r11 verdict asked for (closes the 10x exclusion).
KCORE_SQL = """
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
adj0 AS MATERIALIZED (SELECT u AS node FROM edges0 UNION ALL SELECT v FROM edges0),
keep1 AS MATERIALIZED (SELECT node FROM adj0 GROUP BY node HAVING COUNT(*) >= 2),
edges1 AS MATERIALIZED (
  SELECT e.u, e.v FROM edges0 e
  WHERE e.u IN (SELECT node FROM keep1) AND e.v IN (SELECT node FROM keep1)),
adj1 AS MATERIALIZED (SELECT u AS node FROM edges1 UNION ALL SELECT v FROM edges1),
keep2 AS MATERIALIZED (SELECT node FROM adj1 GROUP BY node HAVING COUNT(*) >= 2),
edges2 AS MATERIALIZED (
  SELECT e.u, e.v FROM edges1 e
  WHERE e.u IN (SELECT node FROM keep2) AND e.v IN (SELECT node FROM keep2)),
adj2 AS MATERIALIZED (SELECT u AS node FROM edges2 UNION ALL SELECT v FROM edges2),
keep3 AS MATERIALIZED (SELECT node FROM adj2 GROUP BY node HAVING COUNT(*) >= 2),
edges3 AS MATERIALIZED (
  SELECT e.u, e.v FROM edges2 e
  WHERE e.u IN (SELECT node FROM keep3) AND e.v IN (SELECT node FROM keep3))
SELECT CAST(1 AS BIGINT) AS round,
       (SELECT COUNT(*) FROM keep1) AS n_nodes,
       (SELECT COUNT(*) FROM edges1) AS n_edges
UNION ALL
SELECT 2, (SELECT COUNT(*) FROM keep2), (SELECT COUNT(*) FROM edges2)
UNION ALL
SELECT 3, (SELECT COUNT(*) FROM keep3), (SELECT COUNT(*) FROM edges3)
ORDER BY round
"""


#: intermediate nodes with degree above this are excluded from the 2-hop
#: expansion (hub fan-out control; hub-mediated common neighbors carry
#: little link-prediction signal anyway)
_LP_VIA_CAP = 64


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links: non-adjacent part pairs ranked by
    hub-filtered common-neighbor Jaccard (cn / (deg_a + deg_b − cn)).

    The 2-hop pair expansion is the quadratic-fan-out step (a hub with
    degree d mints d²/2 candidate pairs), so intermediates above degree
    64 are dropped BEFORE the self-join — the same hot-key cap as the
    shingle df-cap, mirrored exactly in the oracle. Degrees in the score
    stay the full degrees; existing edges are anti-joined away (predicting
    what's already there is not a prediction). Integer counts + one
    rounded division keep the top-20 cut deterministic."""
    edges = _copurchase_edges(spark, sf_dir)
    # The explicit repartition on w does double duty: the ONE exchange
    # serves both the hub semi-join and the 2-hop self-join (both key on
    # w), and it normalizes the union's doubled partition count — a
    # cached union otherwise leaks 2x-partition output into downstream
    # sort-merge planning (observed: "Can't zip RDDs with unequal numbers
    # of partitions" under AQE-off sessions).
    adj = (
        edges.select(F.col("u").alias("x"), F.col("v").alias("w"))
        .unionAll(edges.select(F.col("v").alias("x"), F.col("u").alias("w")))
        .repartition("w")
    )
    # deg feeds three consumers (via filter, both score joins): compute the
    # node-sized aggregate once (bound: one row per node) instead of
    # recomputing the union+agg subtree per consumer
    deg = materialize(adj.groupBy("x").agg(F.count("*").alias("d")))
    via_ok = deg.where(F.col("d") <= _LP_VIA_CAP).select(
        F.col("x").alias("w")
    )
    capped = adj.join(via_ok, "w", "left_semi")
    a1 = capped.select(F.col("x").alias("a"), "w")
    a2 = capped.select(F.col("x").alias("b"), "w")
    cn = (
        a1.join(a2, "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
    )
    new_pairs = cn.join(
        edges,
        (cn["a"] == edges["u"]) & (cn["b"] == edges["v"]),
        "left_anti",
    )
    scored = (
        new_pairs.join(deg.select(F.col("x").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("x").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn") / (F.col("da") + F.col("db") - F.col("cn")), 6
            ).alias("cn_jaccard"),
        )
    )
    return scored.orderBy(
        F.col("cn_jaccard").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(20)


LINK_PREDICTION_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
adj AS (SELECT u AS x, v AS w FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT x, COUNT(*) AS d FROM adj GROUP BY x),
capped AS (
  SELECT adj.* FROM adj JOIN deg dw ON dw.x = adj.w AND dw.d <= {_LP_VIA_CAP}
),
cn AS (
  SELECT a1.x AS a, a2.x AS b, COUNT(*) AS cn
  FROM capped a1 JOIN capped a2 ON a1.w = a2.w AND a1.x < a2.x
  GROUP BY 1, 2
),
new_pairs AS (
  SELECT cn.* FROM cn
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cn.a AND e.v = cn.b)
),
scored AS (
  SELECT n.a, n.b, n.cn,
         round(n.cn / (da.d + db.d - n.cn), 6) AS cn_jaccard
  FROM new_pairs n
  JOIN deg da ON da.x = n.a
  JOIN deg db ON db.x = n.b
)
SELECT a, b, cn, cn_jaccard
FROM scored
ORDER BY cn_jaccard DESC, a ASC, b ASC
LIMIT 20
"""


QUERIES = {
    "graph_triangle_count": graph_triangle_count,
    "graph_degree_distribution": graph_degree_distribution,
    "graph_kcore_peel": graph_kcore_peel,
    "graph_link_prediction": graph_link_prediction,
}

ORACLES = {
    "graph_triangle_count": TRIANGLE_SQL,
    "graph_degree_distribution": DEGREE_SQL,
    "graph_kcore_peel": KCORE_SQL,
    "graph_link_prediction": LINK_PREDICTION_SQL,
}
