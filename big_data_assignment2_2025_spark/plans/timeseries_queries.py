"""Time-series analytics over daily and per-event value series: gap fill
and interpolation, OHLC bars, rolling and cumulative counts, trend and
seasonality, control charts, autocorrelation, changepoints, robust
anomalies, time-weighted averages and drawdowns.

Determinism: values become integer ten-thousandths (``_SCALE``) or cents
before any sum, timestamps become integer epoch microseconds, and the
only float ops are one fixed expression chain per output cell, identical
in Spark and DuckDB. Windows run over daily aggregates, whose row count is
bounded by the calendar, so an unpartitioned ordered window is a bounded
single-task step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.readers import load_table


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


#: Bias added to epoch-micros before zero-padding: 0001-01-01T00:00:00Z is
#: -62135596800 s, so `micros + BIAS` is non-negative for every proleptic
#: year-1+ timestamp. Without it, "%020d" of a NEGATIVE micros value sorts
#: lexicographically in REVERSE numeric order ('-...2' < '-...1'), and
#: min_by would pick the wrong "open" row on pre-1970 data. Max biased
#: value (year 9999) is ~3.2e17, comfortably inside int64 / 20 digits.
EPOCH_MICROS_BIAS = 62_135_596_800_000_000


#: zero-padded "biased_epoch_micros|event_id" — lexicographic order ==
#: numeric order (both components non-negative by construction), and both
#: engines build the identical string, so min_by/arg_min pick the same row
#: even under timestamp ties.
def _ord_key(ts_micros, event_id):
    return F.format_string(
        "%020d|%012d", ts_micros + F.lit(EPOCH_MICROS_BIAS), event_id
    )


# argmin/argmax bars (``events_ohlc_bars``): open/close/high/low per
# (event_type, day) via ``min_by``/``max_by`` with a composite
# deterministic ordering key. One shuffle with map-side partial
# aggregation — the scale-safe alternative to collect_list-and-sort or a
# double window pass. The ordering key is a zero-padded sortable string
# because that is the one composite-key encoding BOTH engines order
# identically (DuckDB's arg_min takes no struct ordering).
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open/high/low/close bars per (event_type, day): open/close via
    ``min_by``/``max_by`` on a composite deterministic key — a single
    groupBy with map-side partial aggregation (one shuffle of one small
    struct per group per map task). The naive alternatives — sort
    collect_list per group, or two ordered windows — either materialize
    whole groups in memory or sort every row twice; at 100 TB the
    argmin/argmax aggregate is the only shape that stays partial."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    key = _ord_key(F.unix_micros("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.round(F.min_by("value", key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", key), 6).alias("close"),
            F.count("*").alias("n_events"),
        )
    )


OHLC_SQL = """
SELECT event_type,
       strftime(ts, '%Y-%m-%d') AS day,
       round(arg_min(value, printf('%020d|%012d', epoch_us(ts) + 62135596800000000, event_id)), 6) AS open,
       round(max(value), 6) AS high,
       round(min(value), 6) AS low,
       round(arg_max(value, printf('%020d|%012d', epoch_us(ts) + 62135596800000000, event_id)), 6) AS close,
       count(*) AS n_events
FROM events
WHERE value IS NOT NULL
GROUP BY event_type, strftime(ts, '%Y-%m-%d')
"""


def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (plus same-day DAU).

    Distinct does NOT decompose into partial aggregates, so a sliding
    distinct cannot reuse the windowed-count trick
    (``events_sliding_window``). The exact scale shape: reduce facts to
    the (day, user) DIMENSION first (one distinct shuffle of the fact
    table — unavoidable), then fan each dimension row out to the <=7
    window-end days it contributes to (a projection, bounded by the
    window length) and run one distinct-agg shuffle over the fan-out.
    Shuffle volume is 7 x daily-active rows, never 7 x events. The
    approximate path at extreme scale is HLL sketch merge
    (``approx_count_distinct`` per day + merge), which IS decomposable —
    this query is the exact form. Output days are restricted to observed
    event days (no trailing phantom windows)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    # dau1 straight off the dimension (rows are already (day,user)-distinct
    # -> a plain count, no second distinct); dau7 over the fan-out as its
    # OWN single-distinct aggregate. Two countDistincts in one agg would
    # compile to an Expand that doubles every fan-out row before the
    # shuffle — splitting them and joining the two per-day frames halves
    # the shuffled volume.
    dau1 = daily.groupBy("day").agg(F.count("*").alias("dau1"))
    contrib = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "win_day"
        ),
        "user_id",
    )
    dau7 = (
        contrib.distinct()
        .groupBy("win_day")
        .agg(F.count("*").alias("dau7"))
        .select(F.col("win_day").alias("day"), "dau7")
    )
    return dau1.join(dau7, "day").select("day", "dau1", "dau7")


ROLLING_DAU_SQL = """
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
contrib AS (
  SELECT day + CAST(t.k AS INTEGER) AS win_day, CAST(t.k AS INTEGER) AS k, user_id
  FROM daily, range(7) t(k)
),
obs AS (SELECT DISTINCT day AS win_day FROM daily)
SELECT c.win_day AS day,
       COUNT(DISTINCT CASE WHEN c.k = 0 THEN c.user_id END) AS dau1,
       COUNT(DISTINCT c.user_id) AS dau7
FROM contrib c JOIN obs USING (win_day)
GROUP BY c.win_day
"""


# --------------------------------------------------------------------------
# Gap fill + linear interpolation
# --------------------------------------------------------------------------

# gap fill + linear interpolation (``events_gap_fill_interpolate``):
# per-user daily calendar densification (``sequence`` explode bounded by
# each user's observed span) with IGNORE NULLS window walls and a frozen
# IEEE interpolation formula over integer-micros inputs — the
# time-series resample every metrics pipeline needs. Shuffle is one
# (user, day) aggregate plus one window over the densified frame.
def events_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's daily mean ``value`` to a full calendar and
    linearly interpolate the missing days.

    Scale shape: one (user, day) aggregate over the facts (integer-micros
    sums — exact), a per-user span aggregate, a bounded ``sequence``
    explode (fan-out = span days, never events), and ONE window pass that
    computes both interpolation walls via IGNORE NULLS ``last``/``first``
    — no self-join against the calendar, no driver loop. The
    interpolation itself is a frozen IEEE expression over exact integer
    inputs (micros, day offsets), so both engines reproduce it bit for
    bit before the final 6-dp round.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value").cast("double") * 1e6).cast("long")).alias(
            "v_micros"
        ),
        F.count("*").alias("n"),
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    dense = cal.join(daily, ["user_id", "day"], "left").withColumn(
        "m",
        F.col("v_micros").cast("double") / F.col("n").cast("double"),
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("m").isNotNull(), F.col("day"))
    walls = (
        dense.withColumn("prev_m", F.last("m", ignorenulls=True).over(w_back))
        .withColumn("prev_day", F.last(obs_day, ignorenulls=True).over(w_back))
        .withColumn("next_m", F.first("m", ignorenulls=True).over(w_fwd))
        .withColumn("next_day", F.first(obs_day, ignorenulls=True).over(w_fwd))
    )
    # Endpoints are observed by construction (the span is min..max observed
    # day), so prev/next walls are both non-null on every gap row.
    frac = F.datediff(F.col("day"), F.col("prev_day")).cast(
        "double"
    ) / F.datediff(F.col("next_day"), F.col("prev_day")).cast("double")
    filled_micros = F.when(F.col("m").isNotNull(), F.col("m")).otherwise(
        F.col("prev_m") + (F.col("next_m") - F.col("prev_m")) * frac
    )
    return walls.select(
        "user_id",
        "day",
        F.round(filled_micros / F.lit(1e6), 6).alias("value_filled"),
        F.col("m").isNull().alias("was_gap"),
    ).orderBy("user_id", "day")


GAP_FILL_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         sum(CAST(round(CAST(value AS DOUBLE) * 1e6) AS BIGINT)) AS v_micros,
         count(*) AS n
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
cal AS (
  SELECT user_id, unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
  FROM daily GROUP BY user_id
),
dense AS (
  SELECT c.user_id, c.day,
         CAST(d.v_micros AS DOUBLE) / CAST(d.n AS DOUBLE) AS m
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
),
walls AS (
  SELECT user_id, day, m,
         last_value(m IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_m,
         last_value(CASE WHEN m IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
         first_value(m IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_m,
         first_value(CASE WHEN m IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
  FROM dense
)
SELECT user_id, day,
       round(
         CASE WHEN m IS NOT NULL THEN m
              ELSE prev_m + (next_m - prev_m)
                   * (CAST(date_diff('day', prev_day, day) AS DOUBLE)
                      / CAST(date_diff('day', prev_day, next_day) AS DOUBLE))
         END / 1e6, 6) AS value_filled,
       m IS NULL AS was_gap
FROM walls
ORDER BY user_id, day
"""


#: integer scale for value micros (4 decimals)
_SCALE = 10_000


# seasonal decomposition (``events_seasonal_decompose``): the classic
# additive trend/seasonal/remainder split of a daily metric — centered
# 7-row moving-average trend, day-of-week seasonal means of the detrended
# series, remainder as what's left. The monitoring shape behind "is this
# drop a weekend or an incident".
#
# Cross-engine determinism is engineered, not hoped for: daily values
# become integer ten-thousandths (one frozen floor(x·1e4+0.5) per row,
# then BIGINT sums — order-independent), the trend is carried as the
# integer 7-day SUM, and the detrended series is the exact integer
# ``7·v − trend_sum`` (scaling by 7 instead of dividing keeps every
# aggregate integer). The only float ops are one fixed division chain per
# OUTPUT cell — identical expressions in Spark and DuckDB, so the gate
# hashes exactly. Day-of-week is ``epoch_days mod 7`` (calendar-function
# conventions differ between engines; arithmetic doesn't).
#
# Scale: the windows run over the DAILY AGGREGATE, whose row count is
# bounded by the calendar (~36.5k rows per century) however large the
# event table is — the unpartitioned ordered window is a deliberate,
# bounded single-task step on sketch-sized data, same discipline as the
# ranking operators' bounded driver stages. The trend frame is the 7
# neighboring OBSERVED days (rows, not calendar positions); compose with
# ``orders_daily_gapfill`` first when the series has holes.
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-value series split into trend (centered 7-row moving
    average), day-of-week seasonal, and remainder; only days with a full
    7-row trend window are emitted."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr(f"CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    t = (
        daily.withColumn("n7", F.count("*").over(w7))
        .withColumn("t_us", F.sum("v_us").over(w7))
        .where(F.col("n7") == 7)
        .withColumn("d7", F.lit(7).cast("long") * F.col("v_us") - F.col("t_us"))
        .withColumn(
            "dow", F.pmod(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")), F.lit(7))
        )
    )
    seas = t.groupBy("dow").agg(
        F.sum("d7").alias("s_num"), F.count("*").alias("s_cnt")
    )
    den = float(7 * _SCALE)
    return (
        t.join(F.broadcast(seas), "dow")
        .select(
            "day",
            F.round(F.col("v_us") / float(_SCALE), 6).alias("value"),
            F.round(F.col("t_us") / den, 6).alias("trend"),
            F.round((F.col("s_num") / F.col("s_cnt")) / den, 6).alias("seasonal"),
            F.round(
                (F.col("d7") - F.col("s_num") / F.col("s_cnt")) / den, 6
            ).alias("remainder"),
        )
        .orderBy("day")
    )


SEASONAL_DECOMPOSE_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
t AS (
  SELECT day, v_us,
         COUNT(*) OVER w AS n7,
         SUM(v_us) OVER w AS t_us
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
d AS (
  SELECT day, v_us, t_us,
         7 * v_us - t_us AS d7,
         ((day - DATE '1970-01-01') % 7 + 7) % 7 AS dow
  FROM t WHERE n7 = 7
),
seas AS (
  SELECT dow, SUM(d7) AS s_num, COUNT(*) AS s_cnt FROM d GROUP BY dow
)
SELECT d.day,
       round(d.v_us / {float(_SCALE)}, 6) AS value,
       round(d.t_us / {float(7 * _SCALE)}, 6) AS trend,
       round((seas.s_num / seas.s_cnt) / {float(7 * _SCALE)}, 6) AS seasonal,
       round((d.d7 - seas.s_num / seas.s_cnt) / {float(7 * _SCALE)}, 6) AS remainder
FROM d JOIN seas USING (dow)
ORDER BY d.day
"""


# --------------------------------------------------------------------------
# EWMA control chart (trailing exponentially-weighted baseline)
# --------------------------------------------------------------------------

#: trailing lags in the EWMA baseline; weight of lag k is 2^(_EWMA_LAGS-k)
_EWMA_LAGS = 7

#: relative deviation from baseline that flags a day
_EWMA_FLAG = 0.2


def events_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-value control chart: each day compared against a
    trailing 7-day exponentially-weighted baseline (half-life 1 day),
    flagged when it deviates more than ±20%.

    The EWMA is exact integers until one final division: the 7 trailing
    days enter as ``lag(v_us, k)`` columns with INTEGER weights
    ``2^(7-k)`` (halving per day of age), so numerator and the constant
    denominator (127) are BIGINTs — no float accumulation order to
    disagree on. Only days with a full 7-day history are emitted. The
    window again runs over the calendar-bounded daily aggregate; this is
    the streaming-adjacent monitoring readout a batch pipeline recomputes
    incrementally per day at any fact-table scale."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr(f"CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    return ewma_score_daily(daily)


def ewma_score_daily(daily: DataFrame) -> DataFrame:
    """The EWMA control-chart scoring over a (day, v_us) daily frame —
    shared verbatim by the batch query above and the streaming twin
    (streaming/stream.py run_streaming_ewma_anomaly), so the two paths
    cannot diverge: same integer lag weights, same single float division,
    same rounding."""
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "v_us",
        *[
            F.lag("v_us", k).over(w).alias(f"l{k}")
            for k in range(1, _EWMA_LAGS + 1)
        ],
    ).where(F.col(f"l{_EWMA_LAGS}").isNotNull())
    num = None
    for k in range(1, _EWMA_LAGS + 1):
        term = F.col(f"l{k}") * F.lit(2 ** (_EWMA_LAGS - k)).cast("long")
        num = term if num is None else num + term
    den = float(2**_EWMA_LAGS - 1)
    baseline = num / F.lit(den)  # ONE float op on integer inputs
    dev = (F.col("v_us") - baseline) / baseline
    return (
        lagged.select(
            "day",
            F.round(F.col("v_us") / float(_SCALE), 6).alias("value"),
            F.round(baseline / float(_SCALE), 6).alias("ewma"),
            F.round(dev, 6).alias("dev_ratio"),
            F.when(F.abs(dev) > _EWMA_FLAG, 1).otherwise(0).cast("int").alias("is_anomaly"),
        )
        .orderBy("day")
    )


_EWMA_NUM_SQL = " + ".join(
    f"l{k} * {2 ** (_EWMA_LAGS - k)}" for k in range(1, _EWMA_LAGS + 1)
)

EWMA_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
lagged AS (
  SELECT day, v_us,
         {", ".join(f"LAG(v_us, {k}) OVER (ORDER BY day) AS l{k}" for k in range(1, _EWMA_LAGS + 1))}
  FROM daily
),
scored AS (
  SELECT day, v_us,
         ({_EWMA_NUM_SQL}) / {float(2**_EWMA_LAGS - 1)} AS baseline
  FROM lagged WHERE l{_EWMA_LAGS} IS NOT NULL
)
SELECT day,
       round(v_us / {float(_SCALE)}, 6) AS value,
       round(baseline / {float(_SCALE)}, 6) AS ewma,
       round((v_us - baseline) / baseline, 6) AS dev_ratio,
       CAST(CASE WHEN abs((v_us - baseline) / baseline) > {_EWMA_FLAG}
                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM scored
ORDER BY day
"""


# --------------------------------------------------------------------------
# Cumulative-user growth curve
# --------------------------------------------------------------------------

def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total distinct users EVER seen, by day — the growth curve.

    A running distinct doesn't decompose as a window, but first-seen does:
    one aggregate finds each user's first day, a second counts first-
    appearances per day, and the cumulative sum over the calendar-bounded
    daily frame is the answer — two small shuffles, never a per-day
    re-count of history. Days with activity but no NEW users still emit
    (left join against observed days)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    new_per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    observed = ev.select(F.to_date("ts").alias("day")).distinct()
    daily = observed.join(new_per_day, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("long")
        )
        .orderBy("day")
    )


CUMULATIVE_USERS_SQL = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, user_id
  FROM events WHERE user_id IS NOT NULL
),
first_seen AS (SELECT user_id, MIN(day) AS first_day FROM e GROUP BY user_id),
new_per_day AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
                FROM first_seen GROUP BY first_day),
observed AS (SELECT DISTINCT day FROM e)
SELECT o.day,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0))
              OVER (ORDER BY o.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_users
FROM observed o LEFT JOIN new_per_day n USING (day)
ORDER BY o.day
"""


# --------------------------------------------------------------------------
# Revenue drawdown
# --------------------------------------------------------------------------

# revenue drawdown (``orders_revenue_drawdown``): running peak of the
# cumulative daily revenue and the gap below it — the composition of two
# window extrema (cumsum, then running max) that finance calls drawdown
# and SRE calls "how far below high-water mark". Integer micros
# throughout; the windows run over the calendar-bounded daily aggregate.
def orders_revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cumulative revenue, its running peak, and the drawdown gap
    (peak − cumulative), in exact integer micros."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 1e6) AS BIGINT)")
        ).alias("rev_micros")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.withColumn("cum_micros", F.sum("rev_micros").over(w_cum))
    peak = cum.withColumn("peak_micros", F.max("cum_micros").over(w_cum))
    return (
        peak.select(
            "day",
            "rev_micros",
            "cum_micros",
            "peak_micros",
            (F.col("peak_micros") - F.col("cum_micros")).alias("drawdown_micros"),
        )
        .orderBy("day")
    )


REVENUE_DRAWDOWN_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 1e6) AS BIGINT))
              AS BIGINT) AS rev_micros
  FROM orders GROUP BY 1
),
cum AS (
  SELECT day, rev_micros,
         CAST(SUM(rev_micros) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_micros
  FROM daily
)
SELECT day, rev_micros, cum_micros,
       CAST(MAX(cum_micros) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS peak_micros,
       CAST(MAX(cum_micros) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            - cum_micros AS BIGINT) AS drawdown_micros
FROM cum
ORDER BY day
"""


# --------------------------------------------------------------------------
# Rolling 7-day trend slope
# --------------------------------------------------------------------------

#: window length for the rolling least-squares trend
_SLOPE_N = 7


def events_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day least-squares trend slope of daily event value —
    "is this metric trending up or down, and how fast", per day.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x = 0..6 the position
    inside the window and y the integer-micro daily values entering as 7
    explicit lag columns — so numerator and the CONSTANT denominator
    (n·Σx²−(Σx)² = 7·91−441 = 196) are exact BIGINTs and the only float
    op is one final division, micro-rounded. Same calendar-bounded daily
    frame discipline as the EWMA chart; rows need a full 7-day history."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr("CAST(floor(round(value, 4) * 10000 + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "v_us",
        *[
            F.lag("v_us", k).over(w).alias(f"l{k}")
            for k in range(1, _SLOPE_N)
        ],
    ).where(F.col(f"l{_SLOPE_N - 1}").isNotNull())
    # y_i at window position x_i: l6 is oldest (x=0) ... v_us newest (x=6)
    ys = [F.col(f"l{_SLOPE_N - 1 - i}") if i < _SLOPE_N - 1 else F.col("v_us") for i in range(_SLOPE_N)]
    sum_y = None
    sum_xy = None
    for x, y in enumerate(ys):
        sum_y = y if sum_y is None else sum_y + y
        term = y * F.lit(x).cast("long")
        sum_xy = term if sum_xy is None else sum_xy + term
    n = _SLOPE_N
    sum_x = n * (n - 1) // 2            # 21
    den = n * sum(x * x for x in range(n)) - sum_x * sum_x  # 196
    slope = (F.lit(n).cast("long") * sum_xy - F.lit(sum_x).cast("long") * sum_y) / F.lit(
        float(den)
    )
    return (
        lagged.select(
            "day",
            F.round(F.col("v_us") / 10000.0, 6).alias("value"),
            F.round(slope / 10000.0, 6).alias("slope_per_day"),
        )
        .orderBy("day")
    )


_SLOPE_YS = ", ".join(
    f"LAG(v_us, {k}) OVER (ORDER BY day) AS l{k}" for k in range(1, _SLOPE_N)
)
_SLOPE_SUM_Y = " + ".join(
    [f"l{_SLOPE_N - 1 - i}" for i in range(_SLOPE_N - 1)] + ["v_us"]
)
_SLOPE_SUM_XY = " + ".join(
    [f"l{_SLOPE_N - 1 - i} * {i}" for i in range(_SLOPE_N - 1)]
    + [f"v_us * {_SLOPE_N - 1}"]
)

ROLLING_SLOPE_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * 10000 + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
lagged AS (
  SELECT day, v_us, {_SLOPE_YS}
  FROM daily
)
SELECT day,
       round(v_us / 10000.0, 6) AS value,
       round((({_SLOPE_N} * ({_SLOPE_SUM_XY}) - 21 * ({_SLOPE_SUM_Y})) / 196.0)
             / 10000.0, 6) AS slope_per_day
FROM lagged
WHERE l{_SLOPE_N - 1} IS NOT NULL
ORDER BY day
"""


# CUSUM changepoint (``events_changepoint_cusum``): cumulative-sum
# deviation statistic over the daily value series. Scaling by the day
# count n keeps it EXACT: S'_t = n·cumsum_t − t·total is a BIGINT
# (= n·Σ_{i<=t}(v_i − mean)), so the classic max-|CUSUM| changepoint
# estimator hash-gates with zero float ops.
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
# Daily autocorrelation (lags 1..7)
# --------------------------------------------------------------------------

#: maximum autocorrelation lag
_ACF_MAX_LAG = 7


def _acf_daily_sql(int128_cast: str) -> str:
    """The whole ACF query as one SQL text, parameterized ONLY by the
    exact-int128 cast type (``DECIMAL(38,0)`` on Spark, ``HUGEINT`` on
    DuckDB — both exact integer arithmetic for the centered cross
    products, which exceed int64). dev_t = n·v_t − total is itself
    BIGINT-safe; the final per-lag cell is one frozen double division."""
    lead_cols = ",\n         ".join(
        f"LEAD(dev, {k}) OVER (ORDER BY day) AS dev{k}"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    num_cols = ",\n         ".join(
        f"SUM(dev * dev{k}) AS num{k}" for k in range(1, _ACF_MAX_LAG + 1)
    )
    cells = "\n  UNION ALL\n".join(
        f"  SELECT {k} AS lag_k, num{k} AS num, den, n FROM agg"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
devs AS (
  SELECT day,
         CAST(COUNT(*) OVER () * v_us - SUM(v_us) OVER ()
              AS {int128_cast}) AS dev,
         COUNT(*) OVER () AS n
  FROM daily
),
led AS (
  SELECT dev, n,
         {lead_cols}
  FROM devs
),
agg AS (
  SELECT {num_cols},
         SUM(dev * dev) AS den,
         MAX(n) AS n
  FROM led
),
cells AS (
{cells}
)
SELECT CAST(lag_k AS INTEGER) AS lag_k,
       CAST(n - lag_k AS BIGINT) AS n_pairs,
       CASE WHEN den = 0 OR num IS NULL THEN NULL
            ELSE CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                            * 1000000 + 0.5) AS BIGINT)
       END AS acf_micros
FROM cells
ORDER BY lag_k
"""


# daily autocorrelation (``events_acf_daily``): lag-1..7
# autocorrelation of the daily value series — the seasonality detector
# (a weekly cycle shows as an ACF spike at lag 7). Centered cross
# products are kept EXACT by n-scaling (dev_t = n·v_t − total, a
# BIGINT; products/sums carried in DECIMAL(38,0) on Spark and HUGEINT
# on DuckDB — both exact integer arithmetic), so each ACF cell is one
# frozen double division over two exactly-computed integers.
def events_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily value series; one SQL text
    (exec'd through ``spark.sql``) shared with the DuckDB oracle modulo
    the int128 cast spelling. The windows run on the calendar-bounded
    daily aggregate — the deliberate bounded-single-task tail every
    time-series query here shares."""
    for t in ("events",):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_acf_daily_sql("DECIMAL(38,0)"))


# --------------------------------------------------------------------------
# Median/MAD robust anomaly
# --------------------------------------------------------------------------

#: 10000·3·1.4826 — the integerized 3-sigma-equivalent MAD multiplier
_MAD_K10K = 44_478


# median/MAD robust anomaly (``events_mad_anomaly``): the robust
# twin of the EWMA control chart — flag days where |v − median| exceeds
# 3·1.4826·MAD. Median and MAD are LOWER medians picked by integer rank
# (row_number at ceil(n/2) with a deterministic (value, day) tie-break),
# and the threshold compare is pure integer algebra (10000·dev >
# 44478·mad), so the whole query has ZERO float ops.
def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days: |v − median| > 3·1.4826·MAD, with median and
    MAD as LOWER medians picked by integer rank (deterministic
    (value, day) tie-break) and the threshold compare in pure integer
    algebra — the query has zero float ops anywhere."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr(f"CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = daily.select(
        "day",
        "v_us",
        F.row_number().over(Window.orderBy("v_us", "day")).alias("rn"),
        F.count("*").over(w_all).alias("n"),
    )
    with_med = ranked.select(
        "day",
        "v_us",
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("v_us"))
        )
        .over(w_all)
        .alias("med_us"),
    )
    devs = with_med.select(
        "day", "v_us", "med_us", F.abs(F.col("v_us") - F.col("med_us")).alias("dev_us")
    )
    dev_ranked = devs.select(
        "*",
        F.row_number().over(Window.orderBy("dev_us", "day")).alias("drn"),
        F.count("*").over(w_all).alias("n"),
    )
    with_mad = dev_ranked.select(
        "day",
        "v_us",
        "med_us",
        "dev_us",
        F.max(
            F.when(F.col("drn") == F.expr("(n + 1) div 2"), F.col("dev_us"))
        )
        .over(w_all)
        .alias("mad_us"),
    )
    return (
        with_mad.select(
            "day",
            "v_us",
            "med_us",
            "mad_us",
            F.when(
                F.col("dev_us") * F.lit(10_000).cast("long")
                > F.lit(_MAD_K10K).cast("long") * F.col("mad_us"),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("is_anomaly"),
        )
        .orderBy("day")
    )


MAD_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
ranked AS (
  SELECT day, v_us,
         ROW_NUMBER() OVER (ORDER BY v_us, day) AS rn,
         COUNT(*) OVER () AS n
  FROM daily
),
with_med AS (
  SELECT day, v_us,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN v_us END) OVER () AS med_us
  FROM ranked
),
devs AS (
  SELECT day, v_us, med_us, abs(v_us - med_us) AS dev_us FROM with_med
),
dev_ranked AS (
  SELECT day, v_us, med_us, dev_us,
         ROW_NUMBER() OVER (ORDER BY dev_us, day) AS drn,
         COUNT(*) OVER () AS n
  FROM devs
),
with_mad AS (
  SELECT day, v_us, med_us, dev_us,
         MAX(CASE WHEN drn = (n + 1) // 2 THEN dev_us END) OVER () AS mad_us
  FROM dev_ranked
)
SELECT day, CAST(v_us AS BIGINT) AS v_us, CAST(med_us AS BIGINT) AS med_us,
       CAST(mad_us AS BIGINT) AS mad_us,
       CAST(CASE WHEN dev_us * 10000 > {_MAD_K10K} * mad_us
                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM with_mad
ORDER BY day
"""


# --------------------------------------------------------------------------
# Time-weighted average (TWAP) per day
# --------------------------------------------------------------------------

def _twap_sql(epoch_us: str, next_midnight: str) -> str:
    """Parameterized only by the engines' epoch-µs and next-midnight
    spellings. Weight = µs until the next same-day observation (the last
    observation runs to midnight); per-day Σdur is ≤86.4e9 µs by
    construction, so Σ(v_4dp·dur) ≤ 5.6e17 stays in BIGINT."""
    return f"""
WITH obs AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT) AS v4,
         {epoch_us.format(col="ts")} AS t_us,
         COALESCE(
           {epoch_us.format(
               col=("LEAD(ts) OVER (PARTITION BY CAST(ts AS DATE)"
                    " ORDER BY ts, event_id)"))},
           {epoch_us.format(col=next_midnight)}
         ) AS next_us
  FROM events WHERE value IS NOT NULL
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(SUM(next_us - t_us) AS BIGINT) AS span_us,
       CAST(floor(CAST(SUM(v4 * (next_us - t_us)) AS DOUBLE)
                  / CAST(SUM(next_us - t_us) AS DOUBLE) * 100 + 0.5)
            AS BIGINT) AS twap_micros
FROM obs
GROUP BY day
ORDER BY day
"""


# time-weighted average (``events_twap_daily``): per-day TWAP of the
# value series — each observation weighted by the microseconds until
# the next observation (last one runs to midnight). The
# irregular-sampling average (a sensor that reports rarely when idle
# must not be averaged per-sample). Products v_4dp·dur_µs stay within
# BIGINT by construction (per-day durations sum to ≤86.4e9 µs), one
# frozen division per day cell.
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day time-weighted average value (irregular-sampling mean).
    One SQL text shared with the oracle modulo the epoch-µs spelling;
    the window is day+user-free but DAY-partitioned, so it parallelizes
    over the calendar at any volume."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _twap_sql(
            "unix_micros({col})",
            "CAST(date_add(CAST(ts AS DATE), 1) AS TIMESTAMP)",
        )
    )


TWAP_ORACLE_SQL = _twap_sql(
    "epoch_us({col})",
    "CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP)",
)


QUERIES = {
    "events_forward_fill": events_forward_fill,
    "events_linear_interpolate": events_linear_interpolate,
    "orders_daily_gapfill": orders_daily_gapfill,
    "events_rolling_dau": events_rolling_dau,
    "events_ohlc_bars": events_ohlc_bars,
    "events_gap_fill_interpolate": events_gap_fill_interpolate,
    "events_seasonal_decompose": events_seasonal_decompose,
    "events_ewma_anomaly": events_ewma_anomaly,
    "events_cumulative_users": events_cumulative_users,
    "orders_revenue_drawdown": orders_revenue_drawdown,
    "events_rolling_slope": events_rolling_slope,
    "events_changepoint_cusum": events_changepoint_cusum,
    "events_acf_daily": events_acf_daily,
    "events_mad_anomaly": events_mad_anomaly,
    "events_twap_daily": events_twap_daily,
}

ORACLES = {
    "events_forward_fill": EVENTS_FFILL_SQL,
    "events_linear_interpolate": INTERPOLATE_SQL,
    "orders_daily_gapfill": GAPFILL_SQL,
    "events_rolling_dau": ROLLING_DAU_SQL,
    "events_ohlc_bars": OHLC_SQL,
    "events_gap_fill_interpolate": GAP_FILL_SQL,
    "events_seasonal_decompose": SEASONAL_DECOMPOSE_SQL,
    "events_ewma_anomaly": EWMA_ANOMALY_SQL,
    "events_cumulative_users": CUMULATIVE_USERS_SQL,
    "orders_revenue_drawdown": REVENUE_DRAWDOWN_SQL,
    "events_rolling_slope": ROLLING_SLOPE_SQL,
    "events_changepoint_cusum": CUSUM_SQL,
    "events_acf_daily": _acf_daily_sql("HUGEINT"),
    "events_mad_anomaly": MAD_SQL,
    "events_twap_daily": TWAP_ORACLE_SQL,
}
