"""Round-7k queries: survival analysis and community quality.

- **Kaplan-Meier survival** (``events_survival_km``): the retention
  survival curve over user lifetimes (days from first to last observed
  event), with users still active on the corpus's last day treated as
  right-censored. Per distinct lifetime t: numbers at risk, churn and
  censor counts, the discrete hazard d/n, and the KM estimate
  S(t) = Π_{t'≤t}(1 − d/n). Cross-engine determinism: the product is
  carried as an ORDER-INDEPENDENT integer sum of per-step nano-scaled
  log terms (floor(ln(1−d/n)·1e9+0.5), the entropy-query discipline),
  then one exp per output row; everything else is exact integer
  counting over the bounded distinct-lifetime frame.
- **community modularity** (``graph_modularity``): Newman modularity
  contributions of the label-propagation communities on the co-purchase
  graph — per community c: node count, intra-community edges L_c,
  degree mass D_c, and the contribution q_c = L_c/m − (D_c/2m)².
  Exactness: q_c = (4m·L_c − D_c²) / (4m²) has an EXACT integer
  numerator/denominator, carried in int128 (DECIMAL(38,0) on Spark,
  HUGEINT on DuckDB) so the only float op is one frozen division per
  community cell. The standard "did the clustering find structure"
  check riding on ``graph_label_propagation``'s labels.

No reference counterpart; analytics extensions per SURVEY.md §7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table

# --------------------------------------------------------------------------
# 1. Kaplan-Meier survival over user lifetimes
# --------------------------------------------------------------------------


def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM retention curve. Lifetime = datediff(last event day, first
    event day) per user; censored iff the user is still active on the
    corpus max day. The per-lifetime frame is bounded by the calendar,
    so the cumulative windows are the deliberate bounded-single-task
    tail; the user-level reduction is one user-keyed aggregation plus a
    broadcast scalar for the max day."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    spans = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    max_day = ev.agg(F.max(F.to_date("ts")).alias("max_day"))  # 1-row scalar
    lifetimes = spans.crossJoin(F.broadcast(max_day)).select(
        F.datediff("last_day", "first_day").cast("long").alias("t"),
        F.when(F.col("last_day") == F.col("max_day"), 1)
        .otherwise(0)
        .alias("censored"),
    )
    per_t = lifetimes.groupBy("t").agg(
        F.sum(F.expr("1 - censored")).cast("long").alias("d_churn"),
        F.sum("censored").cast("long").alias("c_censored"),
    )
    w_ord = Window.orderBy("t")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    risk = per_t.select(
        "t",
        "d_churn",
        "c_censored",
        (
            F.sum(F.col("d_churn") + F.col("c_censored")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d_churn") + F.col("c_censored")).over(w_prev),
                F.lit(0).cast("long"),
            )
        ).alias("n_risk"),
    )
    stepped = risk.select(
        "t",
        "n_risk",
        "d_churn",
        "c_censored",
        F.expr(
            "CAST(floor(CAST(d_churn AS DOUBLE) / n_risk * 1000000 + 0.5)"
            " AS BIGINT)"
        ).alias("hazard_micros"),
        F.expr(
            "CASE WHEN d_churn = 0 THEN CAST(0 AS BIGINT)"
            " WHEN d_churn < n_risk THEN CAST(floor("
            "   ln(1.0 - CAST(d_churn AS DOUBLE) / n_risk) * 1000000000 + 0.5"
            " ) AS BIGINT) END"
        ).alias("ln_term_nanos"),
    )
    return (
        stepped.select(
            "t",
            "n_risk",
            "d_churn",
            "c_censored",
            "hazard_micros",
            F.when(
                F.max(F.when(F.col("ln_term_nanos").isNull(), 1)).over(w_cum)
                == 1,
                F.lit(0).cast("long"),
            )
            .otherwise(
                F.expr(
                    "CAST(floor(exp(CAST(SUM(ln_term_nanos) OVER"
                    " (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)"
                    " / 1000000000) * 1000000 + 0.5) AS BIGINT)"
                )
            )
            .alias("survival_micros"),
        )
        .orderBy("t")
    )


KM_SQL = """
WITH spans AS (
  SELECT user_id,
         MIN(CAST(ts AS DATE)) AS first_day,
         MAX(CAST(ts AS DATE)) AS last_day
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
),
maxd AS (SELECT MAX(CAST(ts AS DATE)) AS max_day
         FROM events WHERE user_id IS NOT NULL),
lifetimes AS (
  SELECT CAST(datediff('day', first_day, last_day) AS BIGINT) AS t,
         CASE WHEN last_day = max_day THEN 1 ELSE 0 END AS censored
  FROM spans CROSS JOIN maxd
),
per_t AS (
  SELECT t,
         CAST(SUM(1 - censored) AS BIGINT) AS d_churn,
         CAST(SUM(censored) AS BIGINT) AS c_censored
  FROM lifetimes GROUP BY t
),
risk AS (
  SELECT t, d_churn, c_censored,
         CAST(SUM(d_churn + c_censored) OVER ()
              - COALESCE(SUM(d_churn + c_censored) OVER (
                  ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS n_risk
  FROM per_t
),
stepped AS (
  SELECT t, n_risk, d_churn, c_censored,
         CAST(floor(CAST(d_churn AS DOUBLE) / n_risk * 1000000 + 0.5)
              AS BIGINT) AS hazard_micros,
         CASE WHEN d_churn = 0 THEN CAST(0 AS BIGINT)
              WHEN d_churn < n_risk THEN CAST(floor(
                ln(1.0 - CAST(d_churn AS DOUBLE) / n_risk) * 1000000000 + 0.5
              ) AS BIGINT) END AS ln_term_nanos
  FROM risk
)
SELECT t, n_risk, d_churn, c_censored, hazard_micros,
       CASE WHEN MAX(CASE WHEN ln_term_nanos IS NULL THEN 1 END) OVER (
              ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
            THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(exp(CAST(SUM(ln_term_nanos) OVER (
                   ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   / 1000000000) * 1000000 + 0.5) AS BIGINT)
       END AS survival_micros
FROM stepped
ORDER BY t
"""


# --------------------------------------------------------------------------
# 2. Modularity of the LPA communities
# --------------------------------------------------------------------------


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community Newman modularity contributions for the 3-round
    min-label communities: q_c = (4m·L_c − D_c²) / (4m²) with the
    numerator/denominator exact int128 — m and the degree masses exceed
    int64 squared at cluster scale, so the products are carried in
    DECIMAL(38,0) (HUGEINT on the oracle side) and the one float op is
    the final frozen division per community cell."""
    from .graph_queries import _copurchase_edges
    from .round7i_queries import _label_propagation

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
    from .round7i_queries import _lpa_oracle

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
    "events_survival_km": events_survival_km,
    "graph_modularity": graph_modularity,
}

ORACLES = {
    "events_survival_km": KM_SQL,
    "graph_modularity": _modularity_oracle(),
}
