"""Round-7c queries: product-analytics and optimizer-statistics
workloads — cohort retention, marketing attribution, and MCV column
stats.

- **cohort retention** (``events_cohort_retention``): users grouped by
  first-seen day (the cohort), retention = distinct users active at each
  day offset after their cohort day — the product-analytics matrix every
  growth team draws. Scale shape: facts reduce ONCE to the distinct
  (user, day) dimension, the cohort day is a per-user min over that
  dimension, and the user-keyed join between them co-partitions on the
  same hash — two fact-dimension shuffles and one bounded (cohort,
  offset) rollup, never a fact-squared anything.
- **last-touch attribution** (``events_attribution_last_touch``): each
  purchase attributes to the same user's most recent click within the
  7-day lookback, spelled as ONE pass per user ordered by event time —
  ``last(click_ts) IGNORE NULLS`` over a preceding-rows frame — instead
  of the naive purchase x click range self-join whose fan-out is
  per-user quadratic. Revenue stays in integer micros; the
  attribution-rate division is a frozen IEEE tail.
- **MCV column stats** (``lineitem_mcv_stats``): the optimizer-style
  most-common-values summary (top-5 values + frequency fraction per
  column) for the low-cardinality lineitem columns, via one stacked
  unpivot scan → (column, value) counts → per-column top-k window. The
  ANALYZE-statistics shape: selectivity estimation at 100 TB needs MCVs
  precisely when values are skewed, and the per-column partitioned
  window is WindowGroupLimit-pruned so only k rows per column cross the
  final exchange.

No counterpart in the reference (index+query only); analytics extension
per SURVEY.md §7.6, hash-gated against literal DuckDB mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.index import build_index
from ..operators.search import bm25_scores, doc_scores, parse_query, postings, top_k
from ..sources.readers import load_table, read_documents
from .search_queries import _TOKENS_CTE, rounded

# --------------------------------------------------------------------------
# 1. Cohort retention
# --------------------------------------------------------------------------


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-day x day-offset distinct active users.

    ``daily`` (the distinct (user, day) dimension) is the ONLY fact-scale
    reduce; cohorts derive from it with a second user-keyed aggregate
    that AQE co-partitions with the join that follows (same key, same
    hash). The final rollup is bounded by days x max-offset — calendar
    grain, not data grain. retained_frac is one frozen division per
    output row against the broadcast cohort sizes."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    daily = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    cohorts = daily.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = daily.join(cohorts, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
    )
    matrix = joined.groupBy("cohort_day", "day_offset").agg(
        F.count("*").cast("long").alias("n_active")
    )
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    return (
        matrix.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("retained_frac"),
        )
        .orderBy("cohort_day", "day_offset")
    )


COHORT_RETENTION_SQL = """
WITH daily AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE user_id IS NOT NULL
),
cohorts AS (
  SELECT user_id, min(day) AS cohort_day FROM daily GROUP BY user_id
),
matrix AS (
  SELECT c.cohort_day,
         date_diff('day', c.cohort_day, d.day) AS day_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM daily d JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
  FROM cohorts GROUP BY cohort_day
)
SELECT m.cohort_day, m.day_offset, m.n_active, s.cohort_size,
       round(CAST(m.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 6)
         AS retained_frac
FROM matrix m JOIN sizes s USING (cohort_day)
ORDER BY cohort_day, day_offset
"""


# --------------------------------------------------------------------------
# 2. Last-touch attribution
# --------------------------------------------------------------------------

#: lookback window for click -> purchase attribution
_ATTRIB_DAYS = 7


def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day purchase attribution: how many purchases (and how much
    value) had a same-user click within the preceding 7 days.

    The scale spelling: filter to the PARTICIPATING event types first
    (clicks carry state, purchases consume it — views/errors/signups
    never touch the window, so they never reach the shuffle), then one
    partitioned window pass per user ordered by (ts, event_id) carries
    the latest click timestamp via ``last(...) IGNORE NULLS`` over the
    strictly-preceding frame. Cost is one user-keyed shuffle + sort of
    clicks+purchases only, linear at any density. The naive range
    self-join (purchases x clicks ON user AND ts BETWEEN) is the A/B
    partner in SHUFFLE_r7: on the fixture it measures SMALLER because
    AQE broadcasts the purchase side (17,965 rec vs the window's
    40,007) — a comparison that inverts at scale, where neither side
    broadcasts and the join's per-user clicks x purchases interval
    fan-out dominates while the window stays one row per participating
    event. Filter-first matters either way: the unfiltered window
    spelling shuffled every event row (2.9 MB vs 1.2 MB measured).
    Value sums are exact integer micros; the attribution rate is one
    frozen division per output day."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    flagged = (
        ev.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .withColumn(
            "attributed",
            F.col("last_click_ts").isNotNull()
            & (
                F.unix_micros("ts") - F.unix_micros("last_click_ts")
                <= _ATTRIB_DAYS * 86400 * 1_000_000
            ),
        )
    )
    return (
        flagged.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").cast("long").alias("purchases"),
            F.sum(F.col("attributed").cast("long")).cast("long").alias(
                "attributed_purchases"
            ),
            F.sum(
                F.when(
                    F.col("attributed"),
                    F.round(F.col("value").cast("double") * 1e6).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).cast("long").alias("attributed_value_micros"),
        )
        .withColumn(
            "attribution_rate",
            F.round(
                F.col("attributed_purchases").cast("double")
                / F.col("purchases").cast("double"),
                6,
            ),
        )
        .orderBy("day")
    )


ATTRIBUTION_SQL = f"""
WITH flagged AS (
  SELECT ts, value,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_ts,
         event_type
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
),
purchases AS (
  SELECT CAST(ts AS DATE) AS day,
         (last_click_ts IS NOT NULL AND
          epoch_us(ts) - epoch_us(last_click_ts)
            <= CAST({_ATTRIB_DAYS * 86400} AS BIGINT) * 1000000)
           AS attributed,
         CAST(round(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS value_micros
  FROM flagged WHERE event_type = 'purchase'
)
SELECT day,
       CAST(count(*) AS BIGINT) AS purchases,
       CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT)
         AS attributed_purchases,
       CAST(sum(CASE WHEN attributed THEN value_micros ELSE 0 END) AS BIGINT)
         AS attributed_value_micros,
       round(CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS attribution_rate
FROM purchases
GROUP BY day
ORDER BY day
"""


# --------------------------------------------------------------------------
# 3. MCV column stats
# --------------------------------------------------------------------------

#: the low-cardinality lineitem columns an optimizer keeps MCVs for
_MCV_COLS = {
    "l_returnflag": "l_returnflag",
    "l_linestatus": "l_linestatus",
    # DOUBLE in the fixture but integral-valued; the BIGINT cast keeps the
    # string rendering engine-identical ("23", not "23.0" vs "23.0")
    "l_quantity": "CAST(l_quantity AS BIGINT)",
}
_MCV_K = 5


def lineitem_mcv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most-common values per column with frequency fractions —
    the ANALYZE-style MCV statistics a cost-based optimizer consults for
    selectivity on skewed columns.

    One scan feeds a stacked unpivot (columns x rows projection — no
    shuffle), one (column, value) count aggregate (map-side partial; the
    shuffle carries at most columns x distinct-values rows), and a
    per-column top-k window that WindowGroupLimit prunes to k rows per
    task per column before the window exchange. The total-row count
    rides the same scan via a grouping on the column name only."""
    li = load_table(spark, sf_dir, "lineitem")
    stacked = li.select(
        F.expr(
            "stack({n}, {args}) AS (col_name, val)".format(
                n=len(_MCV_COLS),
                args=", ".join(
                    f"'{name}', CAST({expr} AS STRING)"
                    for name, expr in _MCV_COLS.items()
                ),
            )
        )
    )
    counts = stacked.groupBy("col_name", "val").agg(
        F.count("*").cast("long").alias("n")
    )
    totals = counts.groupBy("col_name").agg(
        F.sum("n").cast("long").alias("total")
    )
    w = Window.partitionBy("col_name").orderBy(
        F.col("n").desc(), F.col("val").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _MCV_K)
        .join(F.broadcast(totals), "col_name")
        .select(
            "col_name",
            F.col("rank").cast("int").alias("rank"),
            "val",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("total").cast("double"), 6
            ).alias("freq"),
        )
        .orderBy("col_name", "rank")
    )


MCV_STATS_SQL = f"""
WITH stacked AS (
  {" UNION ALL ".join(
      f"SELECT '{name}' AS col_name, CAST({expr} AS VARCHAR) AS val FROM lineitem"
      for name, expr in _MCV_COLS.items()
  )}
),
counts AS (
  SELECT col_name, val, CAST(count(*) AS BIGINT) AS n
  FROM stacked GROUP BY 1, 2
),
totals AS (
  SELECT col_name, CAST(sum(n) AS BIGINT) AS total FROM counts GROUP BY 1
),
ranked AS (
  SELECT col_name, val, n,
         row_number() OVER (PARTITION BY col_name
                            ORDER BY n DESC, val ASC) AS rank
  FROM counts
)
SELECT r.col_name, CAST(r.rank AS INTEGER) AS rank, r.val, r.n,
       round(CAST(r.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS freq
FROM ranked r JOIN totals t USING (col_name)
WHERE r.rank <= {_MCV_K}
ORDER BY col_name, rank
"""


# --------------------------------------------------------------------------
# 4. Search-surface extensions: negation and prefix expansion
# --------------------------------------------------------------------------

_EXCL_QUERY = "spark join"
_EXCL_TERM = "window"
_PREFIX = "win"


def bm25_search_excluding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval with a NOT-term: rank for "spark join" but drop any
    document containing "window" — the exclusion operator every search
    box grows (reference parity gap: ``app/query.py`` has no negation).

    The exclusion is a LEFT ANTI join against the excluded term's posting
    list — one posting-list-sized probe, never a corpus scan: the
    anti-join's build side is exactly df("window") rows, and at 100 TB it
    broadcasts when the posting list is small or shuffles only matching
    doc ids when it is not (AQE decides)."""
    index = build_index(read_documents(spark, sf_dir))
    scored = bm25_scores(index, F.col("term").isin(parse_query(_EXCL_QUERY)))
    excl = postings(index, F.col("term") == _EXCL_TERM).select("doc_id")
    return rounded(top_k(doc_scores(scored.join(excl, "doc_id", "left_anti"))))


def bm25_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval for a PREFIX query ("win*"): every vocabulary term
    starting with the prefix contributes its BM25 score.

    The expansion is a predicate on the term column (``startswith``), not
    a driver-side vocabulary collect: on the materialized term-sorted
    index the prefix becomes a pushed range scan, so cost tracks the
    expanded posting volume. Per-doc aggregation and top-k are unchanged
    from the exact-term path."""
    index = build_index(read_documents(spark, sf_dir))
    scored = bm25_scores(index, F.col("term").startswith(_PREFIX))
    return rounded(top_k(doc_scores(scored)))


def _bm25_core_sql(term_pred: str) -> str:
    """BM25 scored-CTE body over ``_TOKENS_CTE`` with a term predicate."""
    return f"""
WITH {_TOKENS_CTE},
scored AS (
  SELECT tf.doc_id, tf.doc_title,
         ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE))
           * (2.0 * CAST(tf.term_frequency AS DOUBLE))
           / (1.0 * (0.25 + 0.75 * CAST(di.doc_length AS DOUBLE)
                        / (CAST(ci.total_doc_length AS DOUBLE) / CAST(ci.doc_n AS DOUBLE)))
              + CAST(tf.term_frequency AS DOUBLE)) AS bm25
  FROM tf
  JOIN vocab v USING (term, corpus_name)
  JOIN doc_info di USING (doc_id, doc_title)
  CROSS JOIN corpus_info ci
  WHERE {term_pred}
)
"""


def _excl_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in parse_query(_EXCL_QUERY))
    return (
        _bm25_core_sql(f"tf.term IN ({terms})")
        + f"""
SELECT CAST(s.doc_id AS INTEGER) AS doc_id, s.doc_title,
       round(sum(s.bm25), 6) AS doc_rank
FROM scored s
WHERE NOT EXISTS (
  SELECT 1 FROM tf x
  WHERE x.term = '{_EXCL_TERM}' AND x.doc_id = s.doc_id
)
GROUP BY s.doc_id, s.doc_title
ORDER BY sum(s.bm25) DESC, s.doc_id ASC
LIMIT 10
"""
    )


def _prefix_oracle() -> str:
    return (
        _bm25_core_sql(f"tf.term LIKE '{_PREFIX}%'")
        + """
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(sum(bm25), 6) AS doc_rank
FROM scored
GROUP BY doc_id, doc_title
ORDER BY sum(bm25) DESC, doc_id ASC
LIMIT 10
"""
    )


QUERIES = {
    "events_cohort_retention": events_cohort_retention,
    "bm25_search_excluding": bm25_search_excluding,
    "bm25_prefix_search": bm25_prefix_search,
    "events_attribution_last_touch": events_attribution_last_touch,
    "lineitem_mcv_stats": lineitem_mcv_stats,
}

ORACLES = {
    "events_cohort_retention": COHORT_RETENTION_SQL,
    "bm25_search_excluding": _excl_oracle(),
    "bm25_prefix_search": _prefix_oracle(),
    "events_attribution_last_touch": ATTRIBUTION_SQL,
    "lineitem_mcv_stats": MCV_STATS_SQL,
}
