"""Round-7i queries: community seeding, changepoint detection, forensic
digit auditing, collocation mining, noisy-count release, and l-diversity.

- **label propagation** (``graph_label_propagation``): 3 synchronous
  rounds of min-label propagation over the co-purchase graph — the
  community-seeding primitive behind GraphX/Pregel LPA and the HashMin
  connected-components family. Synchronous min-propagation has a clean
  closed form (after k rounds each node holds the min node id within k
  hops), so the iterative DataFrame loop is oracle-checkable by a k-step
  join expansion in plain SQL — the same "iterate on the engine, verify
  by unrolling" discipline as graph_kcore_peel.
- **CUSUM changepoint** (``events_changepoint_cusum``): cumulative-sum
  deviation statistic over the daily value series. Scaling by the day
  count n keeps it EXACT: S'_t = n·cumsum_t − t·total is a BIGINT
  (= n·Σ_{i<=t}(v_i − mean)), so the classic max-|CUSUM| changepoint
  estimator hash-gates with zero float ops.
- **Benford audit** (``orders_benford_audit``): leading-digit
  distribution of order totals vs Benford's law with per-digit
  chi-square contributions — the fraud/data-entry forensic screen. The
  expected shares are literal constants (log10(1+1/d) frozen in Python,
  embedded in both engines' expressions), so each of the 9 bounded cells
  is one frozen float chain over exact integer counts.
- **collocation mining** (``text_collocations_llr``): Dunning
  log-likelihood-ratio scoring of the corpus's most frequent bigrams —
  the statistically-sound phrase detector (raw counts over-rank "of the";
  LLR ranks by association strength). Candidates are the bounded top-100
  bigrams by count, so the 4-ln scoring chain runs on a fixed cell set
  (the segment-PMI discipline), micro-rounded on both engines.
- **noisy-count release** (``events_dp_noisy_counts``): per-event-type
  counts released through a Laplace mechanism (ε=0.5, sensitivity 1) with
  the noise drawn by inverse-CDF from a SEEDED 52-bit md5 uniform — the
  privacy-release plumbing (per-key noise derivation, post-processed
  non-negativity) with reproducible draws so the release itself is
  auditable and cross-engine hash-gated. A production release would swap
  the seeded hash for a cryptographic RNG; everything else is unchanged.
- **l-diversity audit** (``customer_l_diversity``): for each
  quasi-identifier class (mktsegment, nationkey), how many DISTINCT
  sensitive values (order priorities) its members expose — k-anonymity's
  companion check (a large class whose members all share one sensitive
  value still leaks it).

No reference counterpart; analytics extensions per SURVEY.md §7.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.materialize import materialize
from ..sources.readers import load_table

# --------------------------------------------------------------------------
# 1. Label propagation (3 synchronous min-label rounds)
# --------------------------------------------------------------------------

#: synchronous propagation rounds; label(node) = min id within _LPA_ROUNDS hops
_LPA_ROUNDS = 3


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
    from .graph_queries import _copurchase_edges

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
        labels = materialize(
            labels.join(nbr_min, "node", "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
        )
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
# 2. CUSUM changepoint
# --------------------------------------------------------------------------

#: integer scale for daily value ten-thousandths
_SCALE = 10_000


def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-value CUSUM: S'_t = n·cumsum_t − t·total (the mean-centered
    cumulative sum scaled by the day count, exact BIGINT), with the
    max-|S'| day flagged as the single-changepoint estimate (earliest day
    wins ties). The windows run over the calendar-bounded daily
    aggregate — the bounded-single-task trade every time-series query in
    this repo makes."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr(f"CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = daily.select(
        "day",
        "v_us",
        F.sum("v_us").over(w_cum).alias("cum"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t_idx"),
        F.sum("v_us").over(w_all).alias("total"),
        F.count("*").over(w_all).alias("n_days"),
    )
    cusum = scored.select(
        "day",
        "v_us",
        (F.col("n_days") * F.col("cum") - F.col("t_idx") * F.col("total"))
        .cast("long")
        .alias("cusum_scaled"),
    )
    w_peak = Window.orderBy(F.abs(F.col("cusum_scaled")).desc(), F.col("day").asc())
    return (
        cusum.withColumn(
            "is_changepoint",
            F.when(F.row_number().over(w_peak) == 1, 1).otherwise(0).cast("int"),
        )
        .orderBy("day")
    )


CUSUM_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
scored AS (
  SELECT day, v_us,
         SUM(v_us) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t_idx,
         SUM(v_us) OVER () AS total,
         COUNT(*) OVER () AS n_days
  FROM daily
),
cusum AS (
  SELECT day, v_us,
         CAST(n_days * cum - t_idx * total AS BIGINT) AS cusum_scaled
  FROM scored
)
SELECT day, CAST(v_us AS BIGINT) AS v_us, cusum_scaled,
       CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY abs(cusum_scaled) DESC, day ASC) = 1
                 THEN 1 ELSE 0 END AS INTEGER) AS is_changepoint
FROM cusum
ORDER BY day
"""


# --------------------------------------------------------------------------
# 3. Benford leading-digit audit
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
# 4. Collocations by log-likelihood ratio
# --------------------------------------------------------------------------

#: minimum bigram occurrences to be scored, and the bounded candidate count
_LLR_MIN_COUNT = 5
_LLR_TOP = 100


def _llr_expr() -> str:
    """Dunning LLR over the 2x2 contingency table, as ONE expression text
    shared by both engines. Operands are the double columns k11 (bigram
    count), n_l (bigrams starting with w1), n_r (bigrams ending with w2),
    n_tot (all bigrams); each cell contributes k·ln(k/e) when k>0 with
    e the independence expectation row·col/N."""

    def term(k: str, row: str, col: str) -> str:
        e = f"(({row}) * ({col}) / n_tot)"
        return f"(CASE WHEN {k} > 0 THEN {k} * ln({k} / {e}) ELSE 0.0 END)"

    k11 = "k11"
    k12 = "(n_l - k11)"
    k21 = "(n_r - k11)"
    k22 = "(n_tot - n_l - n_r + k11)"
    row1, row2 = "n_l", "(n_tot - n_l)"
    col1, col2 = "n_r", "(n_tot - n_r)"
    return (
        "2.0 * ("
        + " + ".join(
            [
                term(k11, row1, col1),
                term(k12, row1, col2),
                term(k21, row2, col1),
                term(k22, row2, col2),
            ]
        )
        + ")"
    )


def text_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 most frequent corpus bigrams rescored by Dunning
    log-likelihood ratio — the association-strength ranking that
    separates real collocations from merely-frequent function-word
    pairs.

    Scale: bigram/margin statistics are three hash aggregations over the
    token stream (shuffle keys: bigram, first word, second word — all
    Zipf-concentrated but exact); the 4-ln float chain runs only on the
    bounded 100-candidate frame after a TakeOrderedAndProject, so the
    frozen-IEEE surface is fixed-size however large the corpus grows
    (the segment-PMI discipline)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).where(F.col("tok") != "")
    by_doc = W.partitionBy("doc_id").orderBy("pos")
    # feeds the pair counts and both margins; bound: one row per token
    big = materialize(
        toks.withColumn("w2", F.lead("tok").over(by_doc))
        .where(F.col("w2").isNotNull())
        .select(F.col("tok").alias("w1"), "w2")
    )
    bg = big.groupBy("w1", "w2").agg(F.count("*").alias("n_bg"))
    left = big.groupBy("w1").agg(F.count("*").alias("n_left"))
    right = big.groupBy("w2").agg(F.count("*").alias("n_right"))
    total = big.agg(F.count("*").alias("n_total"))  # 1-row scalar
    cand = (
        bg.where(F.col("n_bg") >= _LLR_MIN_COUNT)
        .orderBy(F.col("n_bg").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(_LLR_TOP)
    )
    scored = (
        cand.join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn("k11", F.col("n_bg").cast("double"))
        .withColumn("n_l", F.col("n_left").cast("double"))
        .withColumn("n_r", F.col("n_right").cast("double"))
        .withColumn("n_tot", F.col("n_total").cast("double"))
        .select(
            "w1",
            "w2",
            F.col("n_bg").cast("long").alias("n_bg"),
            F.expr(
                f"CAST(floor(({_llr_expr()}) * 1000000 + 0.5) AS BIGINT)"
            ).alias("llr_micros"),
        )
    )
    return scored.orderBy(
        F.col("llr_micros").desc(), F.col("w1").asc(), F.col("w2").asc()
    )


COLLOCATIONS_SQL = f"""
WITH raw AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents),
toks AS (SELECT doc_id, tok, pos FROM raw WHERE tok <> ''),
big AS (
  SELECT w1, w2 FROM (
    SELECT tok AS w1,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks) t
  WHERE w2 IS NOT NULL),
bg AS (SELECT w1, w2, COUNT(*) AS n_bg FROM big GROUP BY w1, w2),
lft AS (SELECT w1, COUNT(*) AS n_left FROM big GROUP BY w1),
rgt AS (SELECT w2, COUNT(*) AS n_right FROM big GROUP BY w2),
total AS (SELECT COUNT(*) AS n_total FROM big),
cand AS (
  SELECT w1, w2, n_bg FROM bg WHERE n_bg >= {_LLR_MIN_COUNT}
  ORDER BY n_bg DESC, w1 ASC, w2 ASC LIMIT {_LLR_TOP}),
scored AS (
  SELECT cand.w1, cand.w2, CAST(cand.n_bg AS BIGINT) AS n_bg,
         CAST(cand.n_bg AS DOUBLE) AS k11,
         CAST(lft.n_left AS DOUBLE) AS n_l,
         CAST(rgt.n_right AS DOUBLE) AS n_r,
         CAST(total.n_total AS DOUBLE) AS n_tot
  FROM cand
  JOIN lft USING (w1)
  JOIN rgt USING (w2)
  CROSS JOIN total)
SELECT w1, w2, n_bg,
       CAST(floor(({_llr_expr()}) * 1000000 + 0.5) AS BIGINT) AS llr_micros
FROM scored
ORDER BY llr_micros DESC, w1 ASC, w2 ASC
"""


# --------------------------------------------------------------------------
# 5. Noisy-count release (seeded Laplace mechanism)
# --------------------------------------------------------------------------

#: privacy budget: Laplace scale b = sensitivity/ε = 1/0.5
_DP_B = 2.0
_DP_SEED = "r7i-release-1"


def _dp_noise_exprs(key_sql: str) -> tuple[str, str]:
    """(uniform, noise_micros) expression texts, identical on both
    engines modulo the hex-to-int spelling. The uniform draw is the
    52-bit md5 slice over (seed || key) divided by 2^52 — exactly the
    operators/sketches.py hash52 convention — and the Laplace deviate is
    the inverse CDF −b·sign(u−½)·ln(1−2|u−½|), one frozen chain per
    released cell."""
    spark_u = (
        f"CAST(conv(substring(md5(concat('{_DP_SEED}|', {key_sql})), 1, 13),"
        f" 16, 10) AS BIGINT) / {float(1 << 52)!r}"
    )
    duck_u = (
        f"(('0x' || substr(md5('{_DP_SEED}|' || {key_sql}), 1, 13))::BIGINT)"
        f" / {float(1 << 52)!r}"
    )

    def noise(u: str) -> str:
        return (
            f"CAST(floor(-{_DP_B!r} * sign(({u}) - 0.5)"
            f" * ln(1.0 - 2.0 * abs(({u}) - 0.5))"
            f" * 1000000 + 0.5) AS BIGINT)"
        )

    return noise(spark_u), noise(duck_u)


def events_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type counts released via a seeded Laplace mechanism:
    noisy = max(0, n + Lap(b=2)) in integer micro-units. This is MECHANISM
    PLUMBING, not a private release: the uniform draw is a deterministic
    public function of the group key (so the gate can replay it bit-for-bit
    in DuckDB) — a real deployment swaps in a cryptographic RNG. The
    released projection accordingly carries ONLY the key and the noisy
    value: shipping the true count or the noise next to it would contradict
    even the shape of a release (r7 ADVICE)."""
    noise_spark, _ = _dp_noise_exprs("event_type")
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_true")
    )
    return (
        counts.select(
            "event_type",
            F.greatest(
                F.lit(0).cast("long"),
                F.col("n_true") * F.lit(1_000_000).cast("long")
                + F.expr(noise_spark),
            ).alias("released_micros"),
        )
        .orderBy("event_type")
    )


def _dp_oracle() -> str:
    _, noise_duck = _dp_noise_exprs("event_type")
    return f"""
WITH counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
  FROM events GROUP BY event_type
)
SELECT event_type,
       GREATEST(CAST(0 AS BIGINT),
                n_true * 1000000 + {noise_duck}) AS released_micros
FROM counts
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# 6. l-diversity audit
# --------------------------------------------------------------------------

#: minimum distinct sensitive values per quasi-identifier class
_L_DIVERSITY = 3


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


QUERIES = {
    "graph_label_propagation": graph_label_propagation,
    "events_changepoint_cusum": events_changepoint_cusum,
    "orders_benford_audit": orders_benford_audit,
    "text_collocations_llr": text_collocations_llr,
    "events_dp_noisy_counts": events_dp_noisy_counts,
    "customer_l_diversity": customer_l_diversity,
}

ORACLES = {
    "graph_label_propagation": _lpa_oracle(),
    "events_changepoint_cusum": CUSUM_SQL,
    "orders_benford_audit": BENFORD_SQL,
    "text_collocations_llr": COLLOCATIONS_SQL,
    "events_dp_noisy_counts": _dp_oracle(),
    "customer_l_diversity": L_DIVERSITY_SQL,
}
