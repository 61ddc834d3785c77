"""Training-data-pipeline operators (round 2): the workflows a 100 TB
corpus-preparation pipeline runs beyond plain analytics — event-sequence
modeling, state history (SCD2), data profiling, corpus mix balancing, PII
scrubbing, train/test contamination detection, canonical-doc dedup
materialization, and exact-moment regression.

Determinism contract: identical to plans/relational.py — integer-exact
moments before any float math, identical IEEE op sequences on both engines,
portable md5-derived hashing, epoch-second timestamps for the nanosecond
events table, CAST(... AS BIGINT) on every DuckDB integer SUM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.dedup import shingles_df
from ..operators.materialize import materialize
from ..sources.readers import load_table

# ---------------------------------------------------------------------------
# Event-sequence analysis
# ---------------------------------------------------------------------------


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event sequences:
    lead() pairs each event with its successor, then one global count per
    (from, to). ONE shuffle on user_id serves the window; the small
    transition matrix aggregates map-side."""
    ev = load_table(spark, sf_dir, "events")
    by_user = W.partitionBy("user_id").orderBy("sec", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.floor(F.col("ts").cast("double")).cast("long").alias("sec"),
    ).withColumn("next_type", F.lead("event_type").over(by_user))
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("from_type", "to_type")
    )


EVENT_TRANSITIONS_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
s AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS to_type
  FROM e)
SELECT from_type, to_type, COUNT(*) AS n_transitions
FROM s WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY from_type, to_type
"""


def events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill a sparse measurement: every event carries the value of
    the user's most recent 'purchase' (time-series as-of imputation).
    ``last(..., ignorenulls)`` over ROWS UNBOUNDED PRECEDING is Spark's
    native carry-forward — no self-join, no UDF, one shuffle on user_id.
    The filled value is copied, not recomputed, so floats stay exact."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.floor(F.col("ts").cast("double")).cast("long").alias("sec"),
        )
        .withColumn(
            "last_purchase_value",
            F.last(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                ignorenulls=True,
            ).over(w),
        )
        .select("user_id", "event_id", "sec", "last_purchase_value")
    )


EVENTS_FFILL_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events)
SELECT user_id, event_id, sec,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_purchase_value
FROM e
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


SCD2_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS valid_to
FROM orders
"""


# ---------------------------------------------------------------------------
# Data profiling (constraint audit)
# ---------------------------------------------------------------------------


def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile audit over orders: one row per profiled column with
    row/null/distinct counts and min/max (stringified on exact types only —
    cross-engine float formatting is not stable, int/varchar is). The three
    per-column aggregates run as one job; each is a map-side-combinable
    single pass, the union is metadata-only."""
    orders = load_table(spark, sf_dir, "orders")

    def profile(col: str) -> DataFrame:
        return orders.agg(
            F.lit(col).alias("col_name"),
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_val"),
            F.max(col).cast("string").alias("max_val"),
        )

    return (
        profile("o_orderstatus")
        .unionByName(profile("o_orderpriority"))
        .unionByName(profile("o_custkey"))
    )


DATA_PROFILE_SQL = """
SELECT 'o_orderstatus' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       COUNT(DISTINCT o_orderstatus) AS n_distinct,
       CAST(MIN(o_orderstatus) AS VARCHAR) AS min_val,
       CAST(MAX(o_orderstatus) AS VARCHAR) AS max_val
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderpriority),
       CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
"""


# ---------------------------------------------------------------------------
# Corpus mix balancing
# ---------------------------------------------------------------------------


def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling weights that would rebalance the corpus to a uniform
    language mix: weight(lang) = target_frac / actual_frac =
    total / (n_langs * n_docs_lang). All inputs are exact integers; the
    single float division runs identically on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = W.partitionBy()
    return per_lang.select(
        "lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(tot).cast("double"),
            6,
        ).alias("actual_frac"),
        F.round(
            F.sum("n_docs").over(tot).cast("double")
            / (F.count("*").over(tot) * F.col("n_docs")).cast("double"),
            6,
        ).alias("mix_weight"),
    ).orderBy("lang")


DOMAIN_MIX_SQL = """
WITH per_lang AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang)
SELECT lang, n_docs,
       round(CAST(n_docs AS DOUBLE)
             / CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE), 6)
         AS actual_frac,
       round(CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) OVER () * n_docs AS DOUBLE), 6)
         AS mix_weight
FROM per_lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction pass: strip digit runs from every document (the stand-in
    for PII patterns — the plumbing is the point: JVM-side regexp_replace
    inside the scan projection, no UDF), reporting per-language how many
    characters were removed. Counting via length-difference keeps the
    check integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    scrubbed_len = F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text") - scrubbed_len).alias("chars_removed"),
            F.sum(
                F.when(F.length("text") - scrubbed_len > 0, 1).otherwise(0)
            ).alias("docs_touched"),
        )
        .orderBy("lang")
    )


PII_SCRUB_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
            AS BIGINT) AS chars_removed,
       CAST(SUM(CASE WHEN length(text)
                          - length(regexp_replace(text, '[0-9]', '', 'g')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched
FROM documents
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Train/test contamination detection
# ---------------------------------------------------------------------------


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan: split the corpus train/test with the
    portable md5 rule (same as split_train_test), shingle both halves into
    5-grams, and report the test docs sharing the most 5-grams with any
    train doc. The shingle equi-join is the scalable core — the same
    bounded-fanout discipline as the LSH band join; at 100 TB one would
    additionally drop shingles above a document-frequency cap to curb
    stop-phrase skew (cf. tfidf_doc_similarity's df<=20 cap)."""
    docs = load_table(spark, sf_dir, "documents")
    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd"
    sh = shingles_df(docs, n=5)
    split = docs.select("doc_id", is_train.alias("is_train"))
    # Tokenize ONCE, shuffle ONCE (r14, guide §2.4): filtering train/test
    # BEFORE the self-join gave each branch its own tokenize+shingle
    # subtree and its own exchange — the corpus was tokenized twice per
    # run (filter pushdown re-splits the branches even under a shared
    # repartition, so exchange reuse alone cannot fix it). The labeled
    # shingle frame is therefore computed once straight off the
    # (shuffle-free) broadcast split join: both branch filters then read
    # it, so the heavy projection runs once and the only data-sized
    # exchanges left are the join's two branch shuffles (which existed
    # before). Bound: one row per (doc, shingle).
    lab = materialize(sh.join(split, "doc_id"))
    train = lab.where(F.col("is_train")).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    test = lab.where(~F.col("is_train")).select(
        F.col("doc_id").alias("test_doc"), "shingle"
    )
    return (
        test.join(train, "shingle")
        .groupBy("test_doc")
        .agg(
            F.countDistinct("train_doc").alias("n_train_docs"),
            F.countDistinct("shingle").alias("n_shared_shingles"),
        )
        .orderBy(F.desc("n_shared_shingles"), F.asc("test_doc"))
        .limit(50)
    )


CONTAMINATION_SQL = """
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks
           FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term,
               generate_subscripts(toks, 1) AS pos FROM t),
sh0 AS (SELECT doc_id,
               term || ' ' || LEAD(term, 1) OVER w || ' ' || LEAD(term, 2) OVER w
                    || ' ' || LEAD(term, 3) OVER w || ' ' || LEAD(term, 4) OVER w
                 AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
lab AS (SELECT sh.doc_id, shingle,
               substring(md5(CAST(sh.doc_id AS VARCHAR)), 1, 2) < 'cd' AS is_train
        FROM sh)
SELECT te.doc_id AS test_doc,
       COUNT(DISTINCT tr.doc_id) AS n_train_docs,
       COUNT(DISTINCT te.shingle) AS n_shared_shingles
FROM lab te JOIN lab tr ON te.shingle = tr.shingle
WHERE NOT te.is_train AND tr.is_train
GROUP BY te.doc_id
ORDER BY n_shared_shingles DESC, test_doc ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Canonical-document dedup materialization
# ---------------------------------------------------------------------------


def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END PRODUCT: per language, how many documents survive after
    collapsing every near-duplicate cluster (3-gram Jaccard >= 0.5,
    transitive closure) to its canonical member (min doc_id). Composition:
    connected components (operators/graph.py) → anti-join the non-canonical
    members out of the corpus → per-language census. This is the exact
    materialization step an LLM-corpus dedup pipeline ships."""
    from ..operators.dedup import jaccard_pairs
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(shingles_df(docs, n=3)).where(F.col("jaccard") >= 0.5)
    comp = connected_components(pairs)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return (
        docs.join(losers, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("lang")
    )


DEDUP_CANONICAL_SQL = """
WITH RECURSIVE
t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks
      FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM t),
sh0 AS (SELECT doc_id,
               term || ' ' || LEAD(term, 1) OVER w || ' ' || LEAD(term, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jac AS (SELECT doc1, doc2, inter / (s1.n + s2.n - inter) AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = doc1
        JOIN sizes s2 ON s2.doc_id = doc2),
e0 AS (SELECT doc1 AS src, doc2 AS dst FROM jac WHERE jaccard >= 0.5),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
losers AS (SELECT node AS doc_id FROM comp WHERE node <> component)
SELECT lang, COUNT(*) AS n_docs_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM losers)
GROUP BY lang
ORDER BY lang
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


QUERIES = {
    "event_transitions": event_transitions,
    "events_forward_fill": events_forward_fill,
    "scd2_order_price_history": scd2_order_price_history,
    "data_profile_orders": data_profile_orders,
    "domain_mix_weights": domain_mix_weights,
    "pii_scrub_stats": pii_scrub_stats,
    "contamination_check": contamination_check,
    "dedup_keep_canonical": dedup_keep_canonical,
    "stats_linreg": stats_linreg,
    "mode_priority_by_status": mode_priority_by_status,
}

ORACLES = {
    "event_transitions": EVENT_TRANSITIONS_SQL,
    "events_forward_fill": EVENTS_FFILL_SQL,
    "scd2_order_price_history": SCD2_SQL,
    "data_profile_orders": DATA_PROFILE_SQL,
    "domain_mix_weights": DOMAIN_MIX_SQL,
    "pii_scrub_stats": PII_SCRUB_SQL,
    "contamination_check": CONTAMINATION_SQL,
    "dedup_keep_canonical": DEDUP_CANONICAL_SQL,
    "stats_linreg": STATS_LINREG_SQL,
    "mode_priority_by_status": MODE_SQL,
}
