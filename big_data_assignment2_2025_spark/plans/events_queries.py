"""Declared queries over the ``events`` table: JSON prop extraction, windowed
aggregation (the batch forms of the streaming slice), sessionization,
funnels, cohorts and retention, attribution, paths and sequence models,
churn and survival.

These exercise the scalar-function surface the reference lacks entirely
(SURVEY.md §2.8 "Not present: date/time, JSON" → §7.4 extension targets).

Timestamp parity note: the parquet ``ts`` column is nanosecond-precision;
Spark truncates to microseconds, DuckDB keeps ns. All oracle-compared
outputs therefore go through second-or-coarser granularity (epoch seconds
as BIGINT) or integer epoch microseconds, so the ns/µs representation
difference can't leak into hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.readers import load_table


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: count + stats of the JSON prop ``$.k`` — JSON parsing
    stays native (get_json_object), no UDF."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
       MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows via Spark's ``window()`` — the exact plan the
    streaming slice reuses (streaming/stream.py runs this same aggregation
    incrementally with a watermark)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("hour_start", "event_type")
    )


EVENTS_HOURLY_SQL = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
       event_type, COUNT(*) AS n_events,
       round(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation: 1-hour windows advancing every 15 min
    (each event contributes to exactly 4 overlapping windows). Spark's
    ``window(ts, dur, slide)`` expands the 4 memberships inside the scan
    projection — no self-join — then one aggregation shuffle.

    Oracle parity: Spark aligns sliding windows to the epoch on the slide
    grid, so membership is window starts ``floor(t/900)*900 - k*900`` for
    k=0..3; the DuckDB twin generates the same 4 rows per event via
    ``range(4)``. Window bounds compare on exact event time, but the floored
    epoch second yields identical membership because 900 divides the grid.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


EVENTS_SLIDING_SQL = """
SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900 * 900) - k.k * 900 AS window_start,
       COUNT(*) AS n_events,
       round(SUM(value), 4) AS sum_value
FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k
GROUP BY 1
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session):
    lag → gap flag → running sum = session id, then per-session rollup.
    One shuffle on user_id; the window and the groupBy share it."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    by_user = W.partitionBy("user_id").orderBy("sec", "event_id")
    sess = (
        ev.select("user_id", "event_id", "value", sec.alias("sec"))
        .withColumn("prev_sec", F.lag("sec").over(by_user))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_sec").isNull()
                | (F.col("sec") - F.col("prev_sec") > 1800),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_id", F.sum("new_sess").over(by_user))
    )
    # no final orderBy: it would add a rangepartitioning exchange + global
    # sort over the full session table for presentation only (the gate's
    # comparison is order-insensitive)
    return sess.groupBy("user_id", "session_id").agg(
        F.min("sec").alias("session_start"),
        F.max("sec").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


EVENTS_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec, ts
  FROM events),
lagged AS (
  SELECT *, LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev_sec
  FROM e),
flagged AS (
  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
                 THEN 1 ELSE 0 END AS new_sess
  FROM lagged),
sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id,
       MIN(sec) AS session_start, MAX(sec) AS session_end,
       COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def events_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by event volume with per-type pivots — the profiling
    query for a behavioral stream."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.min(F.col("ts").cast("long")).alias("first_seen"),
            F.max(F.col("ts").cast("long")).alias("last_seen"),
        )
        .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
        .limit(20)
    )


EVENTS_USER_ACTIVITY_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       round(SUM(value), 4) AS total_value,
       MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS first_seen,
       MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_seen
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id ASC
LIMIT 20
"""


def events_skewed_type_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over the 5-value event_type key — the
    skew-mitigation shape for low-cardinality keys at scale (every partition
    contributes a partial per (key, salt) before the 5-row final combine)."""
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return salted_agg(
        ev,
        ["event_type"],
        [
            F.count("*").alias("pc"),
            F.sum("value").alias("ps"),
            F.max("value").alias("pm"),
        ],
        [
            F.sum("pc").alias("n_events"),
            F.round(F.sum("ps"), 4).alias("total_value"),
            F.max("pm").alias("max_value"),
        ],
    )


EVENTS_SKEWED_AGG_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       round(SUM(value), 4) AS total_value,
       MAX(value) AS max_value
FROM events GROUP BY event_type
"""


def events_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: a different keep-rate per
    event_type (keep all errors and purchases-heavy, downsample the
    high-volume click/view strata) — the class-rebalancing step of an
    event-training pipeline.

    Like split_train_test, membership hashes the stable event_id (md5 first
    4 hex chars -> 16-bit bucket), NOT rand()/sampleBy(seed): the sample is
    identical across engines, re-runs, and re-partitioning. Pure projection
    + filter, no shuffle, pushdown-friendly.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    rate = (
        F.when(F.col("event_type") == "error", 1.0)
        .when(F.col("event_type") == "purchase", 0.5)
        .when(F.col("event_type") == "signup", 0.25)
        .otherwise(0.1)  # click / view: high-volume strata
    )
    return (
        ev.withColumn("bucket", bucket)
        .where(F.col("bucket") < rate * 65536)
        .select("event_id", "event_type", "user_id")
    )


EVENTS_STRATIFIED_SAMPLE_SQL = """
SELECT event_id, event_type, user_id
FROM (
  SELECT event_id, event_type, user_id,
         CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4) AS BIGINT)
           AS bucket,
         CASE event_type WHEN 'error' THEN 1.0 WHEN 'purchase' THEN 0.5
              WHEN 'signup' THEN 0.25 ELSE 0.1 END AS rate
  FROM events)
WHERE bucket < rate * 65536
"""


def events_user_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score normalization of event values via ``applyInPandas``
    (grouped-map Pandas UDF) — the API surface for per-group Python logic
    that built-in expressions can't cover (here they could — a window AVG/
    STDDEV does it — which is exactly why this one is oracle-checkable; use
    this shape when the per-group step is a real Python library call).

    Cross-engine float determinism: pandas' pairwise summation orders float
    adds differently from SQL engines, so mean/std are computed from EXACT
    integer sums of cent-scaled values (2-decimal inputs -> int64 cents;
    Σc and Σc² are exact), then converted to float with the identical
    operation sequence on both engines — bit-identical results, no rounding
    slack needed (rounded to 6 anyway for belt-and-braces).

    Scale: applyInPandas shuffles on user_id once; each group is a single
    Arrow batch in worker memory — fine for per-user event counts, and the
    same plan holds on 1000 executors.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        c = (pdf["value"] * 100).round().astype("int64")
        n = len(c)
        if n < 2:
            return pdf.iloc[0:0][["user_id", "event_id"]].assign(zscore=0.0)
        s = int(c.sum())
        s2 = int((c * c).sum())
        var = (n * s2 - s * s) / (10000.0 * n * (n - 1))
        if var <= 0.0:
            return pdf.iloc[0:0][["user_id", "event_id"]].assign(zscore=0.0)
        mean = s / (100.0 * n)
        std = var ** 0.5
        z = ((c / 100.0 - mean) / std).round(6)
        return pd.DataFrame(
            {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "zscore": z}
        )

    return ev.groupBy("user_id").applyInPandas(
        zscore, schema="user_id long, event_id long, zscore double"
    )


EVENTS_USER_ZSCORE_SQL = """
WITH c AS (
  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
agg AS (
  SELECT user_id, COUNT(*) AS n, SUM(cents) AS s, SUM(cents * cents) AS s2
  FROM c GROUP BY user_id),
z AS (
  SELECT c.user_id, c.event_id,
         (c.cents / 100.0 - s / (100.0 * n))
           / sqrt((n * s2 - s * s) / (10000.0 * n * (n - 1))) AS zraw,
         n, (n * s2 - s * s) / (10000.0 * n * (n - 1)) AS var
  FROM c JOIN agg ON c.user_id = agg.user_id)
SELECT user_id, event_id, round(zraw, 6) AS zscore
FROM z WHERE n >= 2 AND var > 0.0
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: view -> click (after the first view) -> purchase
    (after that click), per user; output is the user count surviving each
    step. The step dependency (each stage's window starts at the previous
    stage's first qualifying event) is expressed as a chain of conditional
    min-aggregations; every join key is user_id, so the three stages reuse
    one hash partitioning — at scale this is 1 logical shuffle profile, not
    3 independent ones. Timestamps compare as exact epoch-µs integers."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts"))).alias("us"),
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_view_click_purchase")))
    )


EVENTS_FUNNEL_SQL = """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
v AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(us) AS t2
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.us > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(us) AS t3
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.us > c.t2 GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_view_click,
       (SELECT COUNT(*) FROM p) AS n_view_click_purchase
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted in
    each subsequent activity week (offset in weeks). Two aggregations on
    user_id + one on the small (cohort, offset) key; all integer epoch-week
    arithmetic, the canonical product-analytics rollup."""
    # `div`, not `/`: Spark's / is float division and a double quotient can
    # truncate to week-1 vs DuckDB's exact integer //
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 604800").alias("week"),
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    return (
        active.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


EVENTS_RETENTION_SQL = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
  FROM events),
f AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id),
a AS (SELECT DISTINCT user_id, week FROM e)
SELECT cohort_week, week - cohort_week AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


def events_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per user, build a map event_type -> count
    (map_from_entries over collected structs — key set is unique per group,
    so the map is deterministic), then extract scalars with element_at /
    size. The ORACLE computes the same RESULT relationally (filtered counts,
    NULLIF to mirror element_at's missing-key NULL) — mechanism differs,
    results must not. Final output is all-scalar so the gate's value hash
    never sees engine-specific map renderings."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("type_counts")
    )
    return m.select(
        "user_id",
        F.element_at("type_counts", "click").alias("n_clicks"),
        F.element_at("type_counts", "purchase").alias("n_purchases"),
        F.size("type_counts").alias("n_types"),
    )


EVENTS_MAP_SQL = """
SELECT user_id,
       NULLIF(COUNT(*) FILTER (WHERE event_type = 'click'), 0) AS n_clicks,
       NULLIF(COUNT(*) FILTER (WHERE event_type = 'purchase'), 0) AS n_purchases,
       CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_types
FROM events
GROUP BY user_id
"""


def events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction via min_by/max_by: the first and latest value per
    (user, event_type) in ONE aggregation — the \"upsert log -> current
    state\" collapse, without the window+filter two-step (no second pass,
    map-side combinable, the shape that compacts a CDC stream at scale).

    The ordering key packs (second, event_id) into one bigint so first/last
    are total-ordered and engine-independent; 1.7e9 * 1e7 stays well under
    int64."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    ord_key = sec * F.lit(10_000_000).cast("long") + F.col("event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.round("value", 4).alias("value"),
            ord_key.alias("ord"),
            sec.alias("sec"),
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr("min_by(value, ord)").alias("first_value"),
            F.expr("max_by(value, ord)").alias("last_value"),
            F.max("sec").alias("last_sec"),
        )
    )


EVENTS_LATEST_STATE_SQL = """
WITH e AS (
  SELECT user_id, event_type, round(value, 4) AS value,
         CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id AS ord,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events)
SELECT user_id, event_type, COUNT(*) AS n_events,
       min_by(value, ord) AS first_value,
       max_by(value, ord) AS last_value,
       MAX(sec) AS last_sec
FROM e
GROUP BY user_id, event_type
"""


def events_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale per event_type: median and MAD (median absolute
    deviation) — outlier-resistant profiling. Two aggregation passes with a
    broadcast of the 5-row medians between them; exact interpolated
    percentile (Spark ``percentile`` == DuckDB ``quantile_cont``) keeps it
    cross-engine deterministic where mean/stddev would drift."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.round(
                F.expr("percentile(abs(value - med), 0.5)"), 4
            ).alias("mad_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.round("med", 4).alias("median_value"),
            "mad_value",
            "n_events",
        )
        .orderBy("event_type")
    )


EVENTS_ROBUST_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type)
SELECT e.event_type,
       round(m.med, 4) AS median_value,
       round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad_value,
       COUNT(*) AS n_events
FROM events e JOIN med m ON e.event_type = m.event_type
GROUP BY e.event_type, m.med
ORDER BY e.event_type
"""


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of event values — the profiling primitive
    behind every data-quality dashboard. Bin edges derive from the global
    min/max (one tiny aggregate, broadcast back); bin assignment is a pure
    projection, so the whole thing is two map-side-combinable aggregations.
    The bin formula runs the identical IEEE sequence on both engines."""
    ev = load_table(spark, sf_dir, "events").select("value")
    rng = ev.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    binned = ev.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("vmin")) * 20.0
                / (F.col("vmax") - F.col("vmin"))
            ),
            F.lit(19),
        )
        .cast("long")
        .alias("bin")
    )
    return binned.groupBy("bin").agg(F.count("*").alias("n_events")).orderBy("bin")


EVENTS_HISTOGRAM_SQL = """
WITH rng AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events)
SELECT CAST(LEAST(FLOOR((value - vmin) * 20.0 / (vmax - vmin)), 19) AS BIGINT) AS bin,
       COUNT(*) AS n_events
FROM events CROSS JOIN rng
GROUP BY 1 ORDER BY 1
"""


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


# ---------------------------------------------------------------------------
# Winsorized robust statistics (integer-exact, rank-based percentiles)
# ---------------------------------------------------------------------------

def events_winsorized_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of event value per type: clip to the empirical
    [p05, p95] and average. Percentile bounds are DISCRETE (the element at
    rank ceil(q*n)) rather than interpolated — rank selection over exact
    integer cents is bit-identical on both engines, where interpolation
    arithmetic might differ in the last ulp. The clipped sum is a BIGINT
    sum of cents; the single division happens once at the end."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    byv = W.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = ev.withColumn("rk", F.row_number().over(byv)).withColumn(
        "n", F.count("*").over(W.partitionBy("event_type"))
    )
    bounds = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rk") == F.ceil(F.col("n") * 0.05), F.col("cents"))
        ).alias("lo_cents"),
        F.max(
            F.when(F.col("rk") == F.ceil(F.col("n") * 0.95), F.col("cents"))
        ).alias("hi_cents"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "lo_cents",
        "hi_cents",
        F.least(F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents"))
        .alias("w_cents"),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.first("lo_cents").alias("lo_cents"),
            F.first("hi_cents").alias("hi_cents"),
            F.round(
                F.sum("w_cents").cast("double") / F.count("*"), 4
            ).alias("winsorized_mean_cents"),
        )
        .orderBy("event_type")
    )


EVENTS_WINSORIZED_SQL = """
WITH ev AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
ranked AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev),
bounds AS (
  SELECT event_type,
         MAX(CASE WHEN rk = CAST(ceil(n * 0.05) AS BIGINT)
                  THEN cents END) AS lo_cents,
         MAX(CASE WHEN rk = CAST(ceil(n * 0.95) AS BIGINT)
                  THEN cents END) AS hi_cents
  FROM ranked GROUP BY event_type)
SELECT ev.event_type, COUNT(*) AS n,
       CAST(MIN(lo_cents) AS BIGINT) AS lo_cents,
       CAST(MIN(hi_cents) AS BIGINT) AS hi_cents,
       round(CAST(SUM(least(greatest(cents, lo_cents), hi_cents)) AS DOUBLE)
             / COUNT(*), 4) AS winsorized_mean_cents
FROM ev JOIN bounds ON ev.event_type = bounds.event_type
GROUP BY ev.event_type
ORDER BY ev.event_type
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


def events_type_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``applyInArrow`` surface (FlatMapGroupsInArrow): per-type
    integer-exact value stats computed in pure pyarrow compute — no pandas
    conversion on either side of the boundary, one Arrow batch per group.
    Grouped-map is sanctioned here because the group domain is BOUNDED
    (5 event types) and each group's batch is a column slice, not Python
    rows. Micros are rounded half-away-from-zero to match DuckDB/Spark
    ``round``, so the oracle is hash-exact."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())

    def stats(table: pa.Table) -> pa.Table:
        et = table.column("event_type")[0].as_py()
        micros = pc.cast(
            pc.round(
                pc.multiply(table.column("value"), pa.scalar(1e6)),
                0,
                round_mode="half_towards_infinity",
            ),
            pa.int64(),
        )
        return pa.table(
            {
                "event_type": [et],
                "n_events": [table.num_rows],
                "sum_micros": [pc.sum(micros).as_py()],
                "min_micros": [pc.min(micros).as_py()],
                "max_micros": [pc.max(micros).as_py()],
            }
        )

    return ev.select("event_type", "value").groupBy("event_type").applyInArrow(
        stats,
        schema="event_type string, n_events long, sum_micros long, "
        "min_micros long, max_micros long",
    )


def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency profile of the view->purchase funnel.

    Chosen definition (deliberate, one-pass): per user, latency =
    GLOBAL first purchase - global first view, counted only when the
    first purchase is at-or-after the first view. A user who purchased
    BEFORE their first view and again after is therefore EXCLUDED, not
    measured from the later purchase — "first purchase at-or-after
    first_view" is a conditional-on-another-aggregate min that cannot be
    expressed in a single partial-aggregating pass; the two-pass
    (join-back) spelling would double the fact-table shuffles for a
    definition difference that only shows on re-purchasers. The oracle
    encodes the same definition. Latencies are exact integer
    MICROSECONDS end-to-end (truncated-seconds vs rounded-epoch was a
    measured cross-engine mismatch). One groupBy on user_id (conditional
    min aggregates — partial, no window) then one tiny percentile
    aggregate over the converted-user dimension. Spark ``percentile`` ==
    DuckDB ``quantile_cont`` (linear interpolation), the established
    parity pair from percentile_stats."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias(
            "first_purchase"
        ),
    )
    conv = firsts.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select((F.col("first_purchase") - F.col("first_view")).alias("lat"))
    return conv.agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(lat, 0.5)"), 4).alias("p50_us"),
        F.round(F.expr("percentile(lat, 0.9)"), 4).alias("p90_us"),
        F.max("lat").alias("max_us"),
    )


ARROW_STATS_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micros,
       MIN(CAST(round(value * 1e6) AS BIGINT)) AS min_micros,
       MAX(CAST(round(value * 1e6) AS BIGINT)) AS max_micros
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
"""


FUNNEL_LATENCY_SQL = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase
  FROM events GROUP BY user_id
),
conv AS (
  SELECT first_purchase - first_view AS lat
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view
)
SELECT COUNT(*) AS n_converted,
       round(quantile_cont(lat, 0.5), 4) AS p50_us,
       round(quantile_cont(lat, 0.9), 4) AS p90_us,
       MAX(lat) AS max_us
FROM conv
"""


# --------------------------------------------------------------------------
# Cohort retention
# --------------------------------------------------------------------------

# cohort retention (``events_cohort_retention``): users grouped by
# first-seen day (the cohort), retention = distinct users active at each
# day offset after their cohort day — the product-analytics matrix every
# growth team draws. Scale shape: facts reduce ONCE to the distinct
# (user, day) dimension, the cohort day is a per-user min over that
# dimension, and the user-keyed join between them co-partitions on the
# same hash — two fact-dimension shuffles and one bounded (cohort,
# offset) rollup, never a fact-squared anything.
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
# Last-touch attribution
# --------------------------------------------------------------------------

#: lookback window for click -> purchase attribution
_ATTRIB_DAYS = 7


# last-touch attribution (``events_attribution_last_touch``): each
# purchase attributes to the same user's most recent click within the
# 7-day lookback, spelled as ONE pass per user ordered by event time —
# ``last(click_ts) IGNORE NULLS`` over a preceding-rows frame — instead
# of the naive purchase x click range self-join whose fan-out is
# per-user quadratic. Revenue stays in integer micros; the
# attribution-rate division is a frozen IEEE tail.
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
# Sequence pattern match (MATCH_RECOGNIZE-style)
# --------------------------------------------------------------------------

#: view, one-or-more clicks, then purchase — non-overlapping count
_PATTERN = "vc+p"


def user_day_sequences(ev) -> DataFrame:
    """(user_id, day, seq): each user-day's event types as a one-letter
    symbol string in deterministic (second, event_id) order — the bounded
    per-group sequence every row-pattern/path query builds on."""
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    ord_key = sec * F.lit(10_000_000).cast("long") + F.col("event_id")
    per = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        ord_key.alias("ord"),
        F.substring("event_type", 1, 1).alias("sym"),
    )
    return per.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "sym"))),
                lambda x: x["sym"],
            ),
            "",
        ).alias("seq")
    )


# sequence pattern match (``events_pattern_match``): MATCH_RECOGNIZE-
# style row-pattern detection, which Spark SQL lacks as a native operator —
# each (user, day)'s event types compress to a one-letter-per-event symbol
# string in event order, and a regex over the string counts pattern hits
# (here ``vc+p``: view, one-or-more clicks, then purchase — the engaged-
# conversion shape). Blocking on (user, DAY) is what makes it scale: the
# per-group sequence is bounded by one entity-day of events, not stream
# history, so the collect_list state stays small however long the table
# grows (the same bounding discipline as sessionization; an unbounded
# per-user sequence would be the scale-killer). Counting is non-overlapping
# left-to-right in both engines (Java regex and RE2 agree on this), which
# the oracle gate pins.
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user, day) rows whose event-type sequence matches ``vc+p`` at
    least once, with the non-overlapping match count.

    The symbol string is built from a sorted collect_list over the packed
    (second, event_id) ordinal — a deterministic total order, so both
    engines agree on the sequence byte-for-byte. The groupBy key includes
    the DAY: per-group state is one entity-day of symbols (bounded),
    and the regex evaluates JVM-side inside the aggregate's projection."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    seqs = user_day_sequences(ev)
    return (
        seqs.select(
            "user_id",
            "day",
            F.length("seq").cast("long").alias("seq_len"),
            F.regexp_count(F.col("seq"), F.lit(_PATTERN))
            .cast("long")
            .alias("n_matches"),
        )
        .where(F.col("n_matches") >= 1)
        .orderBy("user_id", "day")
    )


EVENTS_PATTERN_MATCH_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id AS ord,
         substring(event_type, 1, 1) AS sym
  FROM events WHERE user_id IS NOT NULL
),
s AS (
  SELECT user_id, day, string_agg(sym, '' ORDER BY ord) AS seq
  FROM e GROUP BY user_id, day
)
SELECT user_id, day,
       CAST(length(seq) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(seq, '{_PATTERN}')) AS BIGINT) AS n_matches
FROM s
WHERE len(regexp_extract_all(seq, '{_PATTERN}')) >= 1
ORDER BY user_id, day
"""


# --------------------------------------------------------------------------
# Top user paths (path analysis over bounded user-day sequences)
# --------------------------------------------------------------------------

def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most common user-day event paths (full symbol sequences),
    with occurrence counts — "what do sessions actually look like", the
    flow-analysis readout next to the funnel's fixed hypothesis.

    Reuses the deterministic bounded user-day sequences of
    events_pattern_match; the path space is capped by the per-day
    sequence length, and the final count is a small aggregate over it.
    Total (count DESC, seq ASC) order keeps the cut deterministic."""

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    seqs = user_day_sequences(ev)
    return (
        seqs.groupBy("seq")
        .agg(F.count("*").alias("n_user_days"))
        .orderBy(F.col("n_user_days").desc(), F.col("seq").asc())
        .limit(20)
    )


TOP_PATHS_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id AS ord,
         substring(event_type, 1, 1) AS sym
  FROM events WHERE user_id IS NOT NULL
),
s AS (
  SELECT user_id, day, string_agg(sym, '' ORDER BY ord) AS seq
  FROM e GROUP BY user_id, day
)
SELECT seq, count(*) AS n_user_days
FROM s GROUP BY seq
ORDER BY n_user_days DESC, seq ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# Linear multi-touch attribution
# --------------------------------------------------------------------------

#: attribution window (µs): clicks up to 7 days before the purchase
_LIN_BAND_US = 7 * 86400 * 1_000_000


def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits evenly
    across ALL same-user clicks in the preceding 7 days; credit is
    reported per CLICK day — the complement of last-touch's winner-take-
    all (events_attribution_last_touch).

    Needing every touch (not just the latest) rules out the window trick,
    so the purchase–click pairing is the GRID-BLOCKED band join
    (events_band_join_grid discipline at a 7-day grid): each click fans to
    its bucket and the next (bounded x2 projection — one-sided band), the
    equi-join keys on (user, bucket), and the exact 0 <= Δ <= 7d predicate
    filters survivors — every in-band pair matches exactly once. The even
    split stays INTEGER: each touch gets floor(value/n) micros and the
    EARLIEST touch absorbs the remainder, so per-day credit sums are
    BIGINTs and conservation (credits == purchase value) is testable
    exactly."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    clk = (
        ev.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.unix_micros("ts").alias("c_us"),
            F.to_date("ts").alias("click_day"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.expr(f"CAST(c_us DIV {_LIN_BAND_US} AS BIGINT)"),
                    F.expr(f"CAST(c_us DIV {_LIN_BAND_US} AS BIGINT) + 1"),
                )
            ),
        )
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_us"),
        F.expr("CAST(round(CAST(value AS DOUBLE) * 1e6) AS BIGINT)").alias(
            "v_micros"
        ),
        F.expr(f"CAST(unix_micros(ts) DIV {_LIN_BAND_US} AS BIGINT)").alias(
            "bucket"
        ),
    )
    pairs = clk.join(pur, ["user_id", "bucket"]).where(
        (F.col("p_us") - F.col("c_us") >= 0)
        & (F.col("p_us") - F.col("c_us") <= _LIN_BAND_US)
    )
    wp = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy(
        F.col("c_us").asc(), F.col("click_id").asc()
    )
    credited = (
        pairs.withColumn("n", F.count("*").over(wp))
        .withColumn("rnk", F.row_number().over(wr))
        .withColumn("base", F.expr("CAST(v_micros DIV n AS BIGINT)"))
        .withColumn(
            "credit_micros",
            F.col("base")
            + F.when(
                F.col("rnk") == 1, F.col("v_micros") - F.col("n") * F.col("base")
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    return (
        credited.groupBy("click_day")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.countDistinct("purchase_id").cast("long").alias("n_purchases"),
            F.sum("credit_micros").cast("long").alias("credit_value_micros"),
        )
        .orderBy("click_day")
    )


ATTRIBUTION_LINEAR_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CAST(ts AS DATE) AS day, value
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
),
c AS (SELECT user_id, event_id AS click_id, us AS c_us, day AS click_day FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS purchase_id, us AS p_us,
             CAST(round(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS v_micros
      FROM e WHERE event_type = 'purchase'),
pairs AS (
  SELECT c.click_id, c.c_us, c.click_day, p.purchase_id, p.v_micros
  FROM c JOIN p ON c.user_id = p.user_id
  WHERE p.p_us - c.c_us >= 0 AND p.p_us - c.c_us <= {_LIN_BAND_US}
),
credited AS (
  SELECT click_day, purchase_id,
         v_micros // n + CASE WHEN rnk = 1 THEN v_micros - n * (v_micros // n)
                              ELSE 0 END AS credit_micros
  FROM (
    SELECT click_day, purchase_id, v_micros,
           COUNT(*) OVER (PARTITION BY purchase_id) AS n,
           ROW_NUMBER() OVER (PARTITION BY purchase_id
                              ORDER BY c_us ASC, click_id ASC) AS rnk
    FROM pairs) t
)
SELECT click_day,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
       CAST(sum(credit_micros) AS BIGINT) AS credit_value_micros
FROM credited
GROUP BY click_day
ORDER BY click_day
"""


# --------------------------------------------------------------------------
# Day-over-day churn
# --------------------------------------------------------------------------

# day-over-day churn (``events_day_churn``): for each consecutive
# observed-day pair, how many active users were retained, new, or
# churned. Exact set accounting via ONE self-join of the (day, user)
# distinct dimension shifted by a day — facts reduce to the dimension
# first, so the join is day-cardinality-bounded rows per user, never a
# fact-table pairing.
def events_day_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retained / new / churned user counts for each consecutive pair of
    observed days. The (day, user) distinct dimension full-outer-joins
    its own next-day shift; classification is pure projection."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    today = du.select("day", "user_id")
    yesterday = du.select(
        F.date_add("day", 1).alias("day"), F.col("user_id").alias("y_user")
    )
    paired = today.join(
        yesterday,
        (today["day"] == yesterday["day"]) & (today["user_id"] == yesterday["y_user"]),
        "full_outer",
    ).select(
        F.coalesce(today["day"], yesterday["day"]).alias("day"),
        today["user_id"].alias("t_user"),
        yesterday["y_user"],
    )
    observed = du.select("day").distinct()
    counted = (
        paired.groupBy("day")
        .agg(
            F.count_if(
                F.col("t_user").isNotNull() & F.col("y_user").isNotNull()
            ).cast("long").alias("retained"),
            F.count_if(
                F.col("t_user").isNotNull() & F.col("y_user").isNull()
            ).cast("long").alias("new_or_returning"),
            F.count_if(
                F.col("t_user").isNull() & F.col("y_user").isNotNull()
            ).cast("long").alias("churned"),
        )
    )
    # only pairs where BOTH days were observed are meaningful churn rows
    prev_observed = observed.select(F.date_add("day", 1).alias("day"))
    return (
        counted.join(observed, "day", "left_semi")
        .join(prev_observed, "day", "left_semi")
        .orderBy("day")
    )


DAY_CHURN_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
  FROM events WHERE user_id IS NOT NULL
),
shifted AS (SELECT day + 1 AS day, user_id AS y_user FROM du),
paired AS (
  SELECT COALESCE(t.day, s.day) AS day, t.user_id AS t_user, s.y_user
  FROM du t FULL OUTER JOIN shifted s
    ON t.day = s.day AND t.user_id = s.y_user
),
counted AS (
  SELECT day,
         CAST(count(*) FILTER (WHERE t_user IS NOT NULL AND y_user IS NOT NULL) AS BIGINT) AS retained,
         CAST(count(*) FILTER (WHERE t_user IS NOT NULL AND y_user IS NULL) AS BIGINT) AS new_or_returning,
         CAST(count(*) FILTER (WHERE t_user IS NULL AND y_user IS NOT NULL) AS BIGINT) AS churned
  FROM paired GROUP BY day
),
observed AS (SELECT DISTINCT day FROM du)
SELECT c.*
FROM counted c
JOIN observed o1 ON o1.day = c.day
JOIN observed o2 ON o2.day + 1 = c.day
ORDER BY c.day
"""


# --------------------------------------------------------------------------
# Segment PMI
# --------------------------------------------------------------------------

#: integer scale for per-cell PMI micro-nats
_PMI_SCALE = 1_000_000


# segment PMI (``events_segment_pmi``): pointwise mutual information
# between event type and customer market segment — "which behaviors are
# over/under-represented per segment". Uses the integerize-the-terms
# discipline (ln of the count ratio frozen to micro-nats per CELL —
# bounded 5x5 cells, each one frozen float chain), so the hash gate
# holds exactly.
def events_segment_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of (event_type, market segment):
    pmi = ln(n_xy · N / (n_x · n_y)) per cell — positive where a segment
    over-indexes on a behavior. Cells are the bounded 5×5 cross of two
    small domains; each cell's pmi is ONE frozen ln over an exact integer
    rational, micro-rounded, so the gate hashes exactly. One fact join +
    three small aggregates."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), "user_id").select(
        "event_type", "c_mktsegment"
    )
    cells = joined.groupBy("event_type", "c_mktsegment").agg(
        F.count("*").alias("n_xy")
    )
    by_type = joined.groupBy("event_type").agg(F.count("*").alias("n_x"))
    by_seg = joined.groupBy("c_mktsegment").agg(F.count("*").alias("n_y"))
    total = joined.agg(F.count("*").alias("n_total"))  # 1-row scalar, stays lazy
    return (
        cells.join(F.broadcast(by_type), "event_type")
        .join(F.broadcast(by_seg), "c_mktsegment")
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "c_mktsegment",
            F.col("n_xy").cast("long").alias("n_xy"),
            F.expr(
                f"CAST(floor(ln(CAST(n_xy AS DOUBLE) * CAST(n_total AS DOUBLE)"
                f" / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))"
                f" * {_PMI_SCALE} + 0.5) AS BIGINT)"
            ).alias("pmi_micro_nats"),
        )
        .orderBy("event_type", "c_mktsegment")
    )


def _segment_pmi_oracle() -> str:
    return f"""
WITH joined AS (
  SELECT e.event_type, c.c_mktsegment
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  WHERE e.user_id IS NOT NULL
),
cells AS (
  SELECT event_type, c_mktsegment, count(*) AS n_xy
  FROM joined GROUP BY 1, 2
),
by_type AS (SELECT event_type, count(*) AS n_x FROM joined GROUP BY 1),
by_seg AS (SELECT c_mktsegment, count(*) AS n_y FROM joined GROUP BY 1),
total AS (SELECT count(*) AS n FROM joined)
SELECT cells.event_type, cells.c_mktsegment,
       CAST(cells.n_xy AS BIGINT) AS n_xy,
       CAST(floor(ln(CAST(cells.n_xy AS DOUBLE) * CAST(total.n AS DOUBLE)
                     / (CAST(by_type.n_x AS DOUBLE) * CAST(by_seg.n_y AS DOUBLE)))
                  * {_PMI_SCALE} + 0.5) AS BIGINT) AS pmi_micro_nats
FROM cells
JOIN by_type USING (event_type)
JOIN by_seg USING (c_mktsegment)
CROSS JOIN total
ORDER BY cells.event_type, cells.c_mktsegment
"""


# --------------------------------------------------------------------------
# Noisy-count release (seeded Laplace mechanism)
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


# noisy-count release (``events_dp_noisy_counts``): per-event-type
# counts released through a Laplace mechanism (ε=0.5, sensitivity 1) with
# the noise drawn by inverse-CDF from a SEEDED 52-bit md5 uniform — the
# privacy-release plumbing (per-key noise derivation, post-processed
# non-negativity) with reproducible draws so the release itself is
# auditable and cross-engine hash-gated. A production release would swap
# the seeded hash for a cryptographic RNG; everything else is unchanged.
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
# Markov transition matrix
# --------------------------------------------------------------------------

# Markov transitions (``events_markov_transitions``): the first-order
# event-type transition matrix — for each (current, next) event-type
# pair over per-user time-ordered streams, the pair count and the
# conditional probability P(next|current). The next-event-prediction /
# clickstream-model primitive. The cell frame is bounded (|event
# types|²), so the one float chain per cell runs on a fixed-size frame.
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-user event-type streams:
    pair counts and P(next|current) in micro-units. The per-user lead
    runs user-partitioned (parallel at any scale); the probability math
    runs on the bounded |types|² cell frame after two hash
    aggregations."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count("*").cast("long").alias("n_pair")
    )
    froms = pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_from")
    )
    return (
        counts.join(F.broadcast(froms), "event_type")
        .select(
            "event_type",
            "next_type",
            "n_pair",
            "n_from",
            F.expr(
                "CAST(floor(CAST(n_pair AS DOUBLE) * 1000000 / n_from + 0.5)"
                " AS BIGINT)"
            ).alias("p_micros"),
        )
        .orderBy("event_type", "next_type")
    )


MARKOV_SQL = """
WITH pairs AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events WHERE user_id IS NOT NULL
),
valid AS (SELECT * FROM pairs WHERE next_type IS NOT NULL),
counts AS (
  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n_pair
  FROM valid GROUP BY 1, 2
),
froms AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_from
  FROM valid GROUP BY 1
)
SELECT c.event_type, c.next_type, c.n_pair, f.n_from,
       CAST(floor(CAST(c.n_pair AS DOUBLE) * 1000000 / f.n_from + 0.5)
            AS BIGINT) AS p_micros
FROM counts c JOIN froms f ON f.event_type = c.event_type
ORDER BY c.event_type, c.next_type
"""


# --------------------------------------------------------------------------
# Kaplan-Meier survival over user lifetimes
# --------------------------------------------------------------------------

# Kaplan-Meier survival (``events_survival_km``): the retention
# survival curve over user lifetimes (days from first to last observed
# event), with users still active on the corpus's last day treated as
# right-censored. Per distinct lifetime t: numbers at risk, churn and
# censor counts, the discrete hazard d/n, and the KM estimate
# S(t) = Π_{t'≤t}(1 − d/n). Cross-engine determinism: the product is
# carried as an ORDER-INDEPENDENT integer sum of per-step nano-scaled
# log terms (floor(ln(1−d/n)·1e9+0.5), the entropy-query discipline),
# then one exp per output row; everything else is exact integer
# counting over the bounded distinct-lifetime frame.
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


QUERIES = {
    "events_funnel": events_funnel,
    "events_latest_state": events_latest_state,
    "events_map_funcs": events_map_funcs,
    "events_retention_cohorts": events_retention_cohorts,
    "events_robust_stats": events_robust_stats,
    "events_value_histogram": events_value_histogram,
    "events_stratified_sample": events_stratified_sample,
    "events_user_zscore": events_user_zscore,
    "events_sliding_window": events_sliding_window,
    "events_json_extract": events_json_extract,
    "events_skewed_type_agg": events_skewed_type_agg,
    "events_hourly_window": events_hourly_window,
    "events_sessionize": events_sessionize,
    "events_user_activity": events_user_activity,
    "event_transitions": event_transitions,
    "events_winsorized_value": events_winsorized_value,
    "ab_test_conversion": ab_test_conversion,
    "events_dow_hour_heatmap": events_dow_hour_heatmap,
    "events_session_window_native": events_session_window_native,
    "events_variant_extract": events_variant_extract,
    "events_type_stats_arrow": events_type_stats_arrow,
    "events_funnel_latency": events_funnel_latency,
    "events_cohort_retention": events_cohort_retention,
    "events_attribution_last_touch": events_attribution_last_touch,
    "events_pattern_match": events_pattern_match,
    "events_top_paths": events_top_paths,
    "events_attribution_linear": events_attribution_linear,
    "events_day_churn": events_day_churn,
    "events_segment_pmi": events_segment_pmi,
    "events_dp_noisy_counts": events_dp_noisy_counts,
    "events_markov_transitions": events_markov_transitions,
    "events_survival_km": events_survival_km,
}

ORACLES = {
    "events_funnel": EVENTS_FUNNEL_SQL,
    "events_latest_state": EVENTS_LATEST_STATE_SQL,
    "events_map_funcs": EVENTS_MAP_SQL,
    "events_retention_cohorts": EVENTS_RETENTION_SQL,
    "events_robust_stats": EVENTS_ROBUST_SQL,
    "events_value_histogram": EVENTS_HISTOGRAM_SQL,
    "events_stratified_sample": EVENTS_STRATIFIED_SAMPLE_SQL,
    "events_user_zscore": EVENTS_USER_ZSCORE_SQL,
    "events_sliding_window": EVENTS_SLIDING_SQL,
    "events_json_extract": EVENTS_JSON_SQL,
    "events_skewed_type_agg": EVENTS_SKEWED_AGG_SQL,
    "events_hourly_window": EVENTS_HOURLY_SQL,
    "events_sessionize": EVENTS_SESSIONIZE_SQL,
    "events_user_activity": EVENTS_USER_ACTIVITY_SQL,
    "event_transitions": EVENT_TRANSITIONS_SQL,
    "events_winsorized_value": EVENTS_WINSORIZED_SQL,
    "ab_test_conversion": AB_TEST_SQL,
    "events_dow_hour_heatmap": DOW_HEATMAP_SQL,
    "events_session_window_native": SESSION_WINDOW_SQL,
    "events_variant_extract": VARIANT_SQL,
    "events_funnel_latency": FUNNEL_LATENCY_SQL,
    "events_type_stats_arrow": ARROW_STATS_SQL,
    "events_cohort_retention": COHORT_RETENTION_SQL,
    "events_attribution_last_touch": ATTRIBUTION_SQL,
    "events_pattern_match": EVENTS_PATTERN_MATCH_SQL,
    "events_top_paths": TOP_PATHS_SQL,
    "events_attribution_linear": ATTRIBUTION_LINEAR_SQL,
    "events_day_churn": DAY_CHURN_SQL,
    "events_segment_pmi": _segment_pmi_oracle(),
    "events_dp_noisy_counts": _dp_oracle(),
    "events_markov_transitions": MARKOV_SQL,
    "events_survival_km": KM_SQL,
}
