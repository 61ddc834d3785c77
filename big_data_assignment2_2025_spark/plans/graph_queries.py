"""Graph analytics over the co-purchase graph: triangle counting, degree
distribution, k-core, link prediction, BFS, PageRank, label propagation
and modularity — the relational-graph workloads a training-data platform
runs on entity/co-occurrence graphs (link farms, citation rings, near-dup
clusters).

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

from ..operators.materialize import materialize, materialized, release
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
        # the counts are on the driver: this round's survivors and the
        # edge list it peeled are dead
        release(keep, edges)
        edges = new_edges
    release(edges)
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


# --------------------------------------------------------------------------
# Label propagation (3 synchronous min-label rounds)
# --------------------------------------------------------------------------

#: synchronous propagation rounds; label(node) = min id within _LPA_ROUNDS hops
_LPA_ROUNDS = 3


# label propagation (``graph_label_propagation``): 3 synchronous
# rounds of min-label propagation over the co-purchase graph — the
# community-seeding primitive behind GraphX/Pregel LPA and the HashMin
# connected-components family. Synchronous min-propagation has a clean
# closed form (after k rounds each node holds the min node id within k
# hops), so the iterative DataFrame loop is oracle-checkable by a k-step
# join expansion in plain SQL — the same "iterate on the engine, verify
# by unrolling" discipline as graph_kcore_peel.
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation on the co-purchase graph: every node starts
    labeled with its own id; each round it takes the min of its own and
    its neighbors' labels. Three rounds — the bounded community-seeding
    pass (full convergence is ``dedup_cluster_components``' job).

    Scale: each round is one neighbor-key equi-join + one hash
    aggregation on the node key — the Pregel message pattern as
    DataFrame ops, shuffle O(edges) per round. Lineage is cut per round
    (``materialize``), the k-core discipline, so the 3-round plan never
    compounds."""

    return _label_propagation(_copurchase_edges(spark, sf_dir)).orderBy("node")


def _label_propagation(edges: DataFrame) -> DataFrame:
    """``(node, label)`` after ``_LPA_ROUNDS`` min-label rounds over the
    undirected edge list ``edges(u, v)``."""
    # every round reads both directions; bound: 2x the edge list
    und = materialize(
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    )
    labels = und.select("node").distinct().withColumn("label", F.col("node"))
    for _ in range(_LPA_ROUNDS):
        nbr_min = (
            und.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label").alias("nbr_label")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nbr_label").alias("nbr_label"))
        )
        # bound: one row per node
        new_labels = materialize(
            labels.join(nbr_min, "node", "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
        )
        # the previous round's checkpoint is dead now (round 0's labels
        # are a plan over ``und``, which release leaves alone); the
        # caller's ``edges`` stay, graph_modularity reads them again
        release(labels)
        labels = new_labels
    release(und)
    return labels


def _lpa_oracle() -> str:
    """Unroll the synchronous rounds as chained CTEs: l{k} = min over
    self + neighbors of l{k-1}. Same edges CTE as every graph oracle."""
    # Every CTE is MATERIALIZED: round k references round k-1 TWICE
    # (self + neighbor side), so DuckDB's default inlining re-expands
    # the chain exponentially — the r11 10x sweep measured >55 GB of
    # oracle-side spill. Materialized, each round evaluates once and
    # the working set stays O(edges) per round (bounded-intermediate
    # rewrite, r11 verdict item 2).
    steps = []
    for k in range(1, _LPA_ROUNDS + 1):
        prev = f"l{k - 1}"
        steps.append(
            f"""l{k} AS MATERIALIZED (
  SELECT n.node, LEAST(n.label, MIN(p.label)) AS label
  FROM {prev} n
  JOIN und e ON e.node = n.node
  JOIN {prev} p ON p.node = e.nbr
  GROUP BY n.node, n.label)"""
        )
    return f"""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
  HAVING COUNT(*) >= 2),
und AS MATERIALIZED (SELECT u AS node, v AS nbr FROM edges
        UNION ALL SELECT v AS node, u AS nbr FROM edges),
l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM und),
{",".join(steps)}
SELECT node, label FROM l{_LPA_ROUNDS} ORDER BY node
"""


# --------------------------------------------------------------------------
# Modularity of the LPA communities
# --------------------------------------------------------------------------

# community modularity (``graph_modularity``): Newman modularity
# contributions of the label-propagation communities on the co-purchase
# graph — per community c: node count, intra-community edges L_c,
# degree mass D_c, and the contribution q_c = L_c/m − (D_c/2m)².
# Exactness: q_c = (4m·L_c − D_c²) / (4m²) has an EXACT integer
# numerator/denominator, carried in int128 (DECIMAL(38,0) on Spark,
# HUGEINT on DuckDB) so the only float op is one frozen division per
# community cell. The standard "did the clustering find structure"
# check riding on ``graph_label_propagation``'s labels.
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community Newman modularity contributions for the 3-round
    min-label communities: q_c = (4m·L_c − D_c²) / (4m²) with the
    numerator/denominator exact int128 — m and the degree masses exceed
    int64 squared at cluster scale, so the products are carried in
    DECIMAL(38,0) (HUGEINT on the oracle side) and the one float op is
    the final frozen division per community cell."""

    # one edge list feeds the communities and every count below
    edges = _copurchase_edges(spark, sf_dir)
    labels = _label_propagation(edges)
    # the edge-count scalar m rides the plan as a 1-row broadcast cross
    # join instead of an eager driver count (r14, guide §2.4/§5 — no
    # driver action, one fewer job; same exact integer, same DECIMAL(38,0)
    # products, same frozen final division)
    m_row = edges.agg(F.count("*").cast("long").alias("m"))
    lab_u = labels.select(F.col("node").alias("u"), F.col("label").alias("lab_u"))
    lab_v = labels.select(F.col("node").alias("v"), F.col("label").alias("lab_v"))
    tagged = edges.join(lab_u, "u").join(lab_v, "v")
    intra = (
        tagged.where(F.col("lab_u") == F.col("lab_v"))
        .groupBy(F.col("lab_u").alias("label"))
        .agg(F.count("*").cast("long").alias("l_intra"))
    )
    und = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = und.groupBy("node").agg(F.count("*").cast("long").alias("degree"))
    dmass = (
        deg.join(labels, "node")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("degree").cast("long").alias("d_sum"),
        )
    )
    cells = (
        dmass.join(intra, "label", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "label",
            "n_nodes",
            F.coalesce("l_intra", F.lit(0).cast("long")).alias("l_intra"),
            "d_sum",
            "m",
        )
    )
    return (
        cells.select(
            "label",
            "n_nodes",
            "l_intra",
            "d_sum",
            F.expr(
                "CAST(floor(CAST("
                "  CAST(4 AS DECIMAL(38,0)) * m * l_intra"
                "  - CAST(d_sum AS DECIMAL(38,0)) * d_sum"
                " AS DOUBLE) / CAST("
                "  CAST(4 AS DECIMAL(38,0)) * m * m"
                " AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
            ).alias("q_micros"),
        )
        .orderBy("label")
    )


def _modularity_oracle() -> str:

    lpa = _lpa_oracle()
    # reuse the unrolled LPA CTE chain: strip its final SELECT, keep WITH
    body = lpa[: lpa.rindex("SELECT node, label FROM")].rstrip().rstrip(",")
    final_tbl = lpa[lpa.rindex("FROM l") :].split()[1]
    return f"""{body},
labels AS MATERIALIZED (SELECT node, label FROM {final_tbl}),
m AS MATERIALIZED (SELECT COUNT(*) AS m FROM edges),
tagged AS (
  SELECT e.u, e.v, lu.label AS lab_u, lv.label AS lab_v
  FROM edges e
  JOIN labels lu ON lu.node = e.u
  JOIN labels lv ON lv.node = e.v
),
intra AS (
  SELECT lab_u AS label, CAST(COUNT(*) AS BIGINT) AS l_intra
  FROM tagged WHERE lab_u = lab_v GROUP BY 1
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY node
),
dmass AS (
  SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.degree) AS BIGINT) AS d_sum
  FROM deg d JOIN labels l ON l.node = d.node
  GROUP BY l.label
)
SELECT dm.label, dm.n_nodes,
       COALESCE(i.l_intra, 0) AS l_intra, dm.d_sum,
       CAST(floor(CAST(
         CAST(4 AS HUGEINT) * m.m * COALESCE(i.l_intra, 0)
         - CAST(dm.d_sum AS HUGEINT) * dm.d_sum
       AS DOUBLE) / CAST(
         CAST(4 AS HUGEINT) * m.m * m.m
       AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q_micros
FROM dmass dm
LEFT JOIN intra i ON i.label = dm.label
CROSS JOIN m
ORDER BY dm.label
"""


QUERIES = {
    "graph_triangle_count": graph_triangle_count,
    "graph_degree_distribution": graph_degree_distribution,
    "graph_kcore_peel": graph_kcore_peel,
    "graph_link_prediction": graph_link_prediction,
    "graph_bfs_3hop": graph_bfs_3hop,
    "graph_pagerank_topk": graph_pagerank_topk,
    "graph_label_propagation": graph_label_propagation,
    "graph_modularity": graph_modularity,
}

ORACLES = {
    "graph_triangle_count": TRIANGLE_SQL,
    "graph_degree_distribution": DEGREE_SQL,
    "graph_kcore_peel": KCORE_SQL,
    "graph_link_prediction": LINK_PREDICTION_SQL,
    "graph_bfs_3hop": BFS_SQL,
    "graph_pagerank_topk": PAGERANK_SQL,
    "graph_label_propagation": _lpa_oracle(),
    "graph_modularity": _modularity_oracle(),
}
