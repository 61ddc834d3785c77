"""Declared queries for temporal joins and interval algebra
(operators/temporal.py): as-of joins, banded range joins, interval merge
and gaps-and-islands.

The as-of oracle uses DuckDB's native ``ASOF JOIN`` — an independent
implementation of the same semantics, which is exactly what makes it a good
differential test for our union+last_value formulation.

All times go through integer epoch seconds or microseconds (see
events_queries timestamp parity note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.temporal import asof_join, range_join_banded
from ..sources.readers import load_table


def _events_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("ts").cast("long").alias("sec"),
    )


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click event: the user's most recent purchase value at or
    before the click. Right side pre-aggregated to one row per (user, sec)
    so the as-of match is well-defined."""
    ev = _events_sec(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "sec", "event_id"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "sec")
        .agg(F.round(F.max("value"), 4).alias("purchase_value"))
    )
    out = asof_join(
        clicks, purchases, on="user_id", time_col="sec",
        right_cols=["purchase_value"],
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("sec").alias("click_sec"),
        F.col("purchase_value_asof").alias("last_purchase_value"),
    )


ASOF_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
clicks AS (SELECT user_id, sec, event_id FROM e WHERE event_type = 'click'),
purch AS (
  SELECT user_id, sec, round(MAX(value), 4) AS purchase_value
  FROM e WHERE event_type = 'purchase' GROUP BY user_id, sec)
SELECT c.user_id, c.event_id, c.sec AS click_sec,
       p.purchase_value AS last_purchase_value
FROM clicks c
ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.sec >= p.sec
"""


def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for every click, the time of the user's NEXT purchase
    at or after the click (NULL when none follows). Same one-shuffle
    carry-forward plan as the backward variant, scanned over descending
    time. Oracle via DuckDB ASOF JOIN with a <= condition."""
    ev = _events_sec(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "sec", "event_id"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "sec")
        .distinct()
        .withColumn("purchase_sec", F.col("sec"))
    )
    out = asof_join(
        clicks, purchases, on="user_id", time_col="sec",
        right_cols=["purchase_sec"], direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("sec").alias("click_sec"),
        F.col("purchase_sec_asof").alias("next_purchase_sec"),
    )


ASOF_FORWARD_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
clicks AS (SELECT user_id, sec, event_id FROM e WHERE event_type = 'click'),
purch AS (
  SELECT DISTINCT user_id, sec, sec AS purchase_sec
  FROM e WHERE event_type = 'purchase')
SELECT c.user_id, c.event_id, c.sec AS click_sec,
       p.purchase_sec AS next_purchase_sec
FROM clicks c
ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.sec <= p.sec
"""


def range_join_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(error, click) pairs for the same user with the click 0-600 s after
    the error — the banded equi-join form of an interval theta-join."""
    ev = _events_sec(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "sec", F.col("event_id").alias("error_id")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "sec", F.col("event_id").alias("click_id")
    )
    out = range_join_banded(
        errors, clicks, on="user_id", time_col="sec", lower=0, upper=600, band=600
    )
    return out.select(
        "user_id",
        F.col("error_id_l").alias("error_id"),
        F.col("click_id_r").alias("click_id"),
        (F.col("r_time") - F.col("l_time")).alias("gap_sec"),
    )


RANGE_JOIN_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events)
SELECT a.user_id, a.event_id AS error_id, b.event_id AS click_id,
       b.sec - a.sec AS gap_sec
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND a.event_type = 'error' AND b.event_type = 'click'
 AND b.sec - a.sec BETWEEN 0 AND 600
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


INTERVAL_COVERAGE_SQL = """
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


# --------------------------------------------------------------------------
# Band join via time-grid blocking
# --------------------------------------------------------------------------

#: band half-width: pairs within ±5 minutes
_BAND_US = 300 * 1_000_000


# band join via time-grid blocking (``events_band_join_grid``):
# pairs of same-user events within a ±5-minute band (errors near
# purchases — the incident-correlation shape). The naive spelling joins
# on user and filters |Δt| ≤ band, fanning out per-user errors x
# purchases; the scale spelling BLOCKS on the 5-minute time grid — each
# error row fans to its bucket and both neighbors (a bounded x3
# projection), the join keys on (user, bucket) so a pair is probed only
# if it can possibly be in band, and each in-band pair matches EXACTLY
# once (the purchase's bucket is always in the error's 3-bucket set).
# Same blocking discipline as the LSH band join and the fuzzy-match
# blocking key (SCALING §2); the DuckDB oracle is the naive inequality
# join, so the gate proves the blocked form loses nothing.
def events_band_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day count of (error, purchase) same-user pairs within ±5
    minutes, joined on the 5-minute time grid.

    Each error projects to its grid bucket and both neighbors (x3
    bounded fan-out, a projection — no shuffle); the equi-join keys on
    (user_id, bucket) so only temporally-plausible pairs are probed; the
    exact |Δt| ≤ band predicate then filters the survivors. A purchase's
    bucket is always within ±1 of an in-band error's bucket, and appears
    exactly once in the error's 3-bucket set — so every in-band pair
    matches exactly once and the blocked join EQUALS the naive
    inequality join (the DuckDB oracle) while probing only adjacent
    buckets instead of every same-user pair."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    err = (
        ev.where(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("event_id").alias("err_id"),
            F.unix_micros("ts").alias("err_us"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.expr(f"CAST(err_us DIV {_BAND_US} AS BIGINT) - 1"),
                    F.expr(f"CAST(err_us DIV {_BAND_US} AS BIGINT)"),
                    F.expr(f"CAST(err_us DIV {_BAND_US} AS BIGINT) + 1"),
                )
            ),
        )
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pur_id"),
        F.unix_micros("ts").alias("pur_us"),
        F.expr(f"CAST(unix_micros(ts) DIV {_BAND_US} AS BIGINT)").alias(
            "bucket"
        ),
    )
    pairs = err.join(pur, ["user_id", "bucket"]).where(
        F.abs(F.col("err_us") - F.col("pur_us")) <= _BAND_US
    )
    return (
        pairs.groupBy(
            F.to_date(F.timestamp_micros(F.col("err_us"))).alias("day")
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("err_id").cast("long").alias("n_errors"),
            F.countDistinct("pur_id").cast("long").alias("n_purchases"),
        )
        .orderBy("day")
    )


BAND_JOIN_SQL = f"""
WITH e AS (
  SELECT user_id, event_id AS err_id, epoch_us(ts) AS err_us
  FROM events WHERE user_id IS NOT NULL AND event_type = 'error'
),
p AS (
  SELECT user_id, event_id AS pur_id, epoch_us(ts) AS pur_us
  FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'
),
pairs AS (
  SELECT e.err_id, p.pur_id, e.err_us
  FROM e JOIN p ON e.user_id = p.user_id
  WHERE abs(e.err_us - p.pur_us) <= {_BAND_US}
)
SELECT CAST(make_timestamp(err_us) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT err_id) AS BIGINT) AS n_errors,
       CAST(count(DISTINCT pur_id) AS BIGINT) AS n_purchases
FROM pairs
GROUP BY 1
ORDER BY day
"""


# --------------------------------------------------------------------------
# Interval merge (gaps-and-islands coverage)
# --------------------------------------------------------------------------

#: activity interval length hung off each event, µs
_INTERVAL_US = 300 * 1_000_000


# interval merge (``events_interval_merge``): per-user union of
# overlapping activity intervals [ts, ts+5min) — the gaps-and-islands
# coverage primitive (total distinct active time, number of activity
# bursts). Classic cumulative-max island detection; exact epoch-µs
# integers throughout.
def events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union of overlapping [ts, ts+5min) activity intervals:
    number of merged bursts and total covered µs. Cumulative-max island
    detection (an interval starts a new island iff it begins strictly
    after every earlier interval's end). All windows are USER-partitioned
    — parallel at any scale — and all arithmetic is exact epoch-µs."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + F.lit(_INTERVAL_US).cast("long")).alias("e_us"),
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s_us",
        "e_us",
        F.when(
            F.col("s_us")
            > F.coalesce(
                F.max("e_us").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(-1).cast("long"),
            ),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "s_us",
        "e_us",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island_id"),
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        F.min("s_us").alias("isl_s"), F.max("e_us").alias("isl_e")
    )
    return (
        per_island.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_islands"),
            F.sum(F.col("isl_e") - F.col("isl_s")).cast("long").alias("covered_us"),
        )
        .orderBy("user_id")
    )


INTERVAL_MERGE_SQL = f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) AS s_us,
         epoch_us(ts) + {_INTERVAL_US} AS e_us,
         event_id
  FROM events WHERE user_id IS NOT NULL
),
flagged AS (
  SELECT user_id, s_us, e_us,
         CASE WHEN s_us > COALESCE(
                MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -1)
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM iv
),
islands AS (
  SELECT user_id, s_us, e_us,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS island_id
  FROM flagged
),
per_island AS (
  SELECT user_id, island_id, MIN(s_us) AS isl_s, MAX(e_us) AS isl_e
  FROM islands GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(SUM(isl_e - isl_s) AS BIGINT) AS covered_us
FROM per_island
GROUP BY user_id
ORDER BY user_id
"""


QUERIES = {
    "asof_last_purchase": asof_last_purchase,
    "asof_next_purchase": asof_next_purchase,
    "range_join_error_clicks": range_join_error_clicks,
    "islands_active_days": islands_active_days,
    "interval_merge_coverage": interval_merge_coverage,
    "events_band_join_grid": events_band_join_grid,
    "events_interval_merge": events_interval_merge,
}

ORACLES = {
    "asof_last_purchase": ASOF_SQL,
    "asof_next_purchase": ASOF_FORWARD_SQL,
    "range_join_error_clicks": RANGE_JOIN_SQL,
    "islands_active_days": ISLANDS_SQL,
    "interval_merge_coverage": INTERVAL_COVERAGE_SQL,
    "events_band_join_grid": BAND_JOIN_SQL,
    "events_interval_merge": INTERVAL_MERGE_SQL,
}
