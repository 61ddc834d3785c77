"""Round-7g queries: time-series decomposition.

- **seasonal decomposition** (``events_seasonal_decompose``): the classic
  additive trend/seasonal/remainder split of a daily metric — centered
  7-row moving-average trend, day-of-week seasonal means of the detrended
  series, remainder as what's left. The monitoring shape behind "is this
  drop a weekend or an incident".

  Cross-engine determinism is engineered, not hoped for: daily values
  become integer ten-thousandths (one frozen floor(x·1e4+0.5) per row,
  then BIGINT sums — order-independent), the trend is carried as the
  integer 7-day SUM, and the detrended series is the exact integer
  ``7·v − trend_sum`` (scaling by 7 instead of dividing keeps every
  aggregate integer). The only float ops are one fixed division chain per
  OUTPUT cell — identical expressions in Spark and DuckDB, so the gate
  hashes exactly. Day-of-week is ``epoch_days mod 7`` (calendar-function
  conventions differ between engines; arithmetic doesn't).

  Scale: the windows run over the DAILY AGGREGATE, whose row count is
  bounded by the calendar (~36.5k rows per century) however large the
  event table is — the unpartitioned ordered window is a deliberate,
  bounded single-task step on sketch-sized data, same discipline as the
  ranking operators' bounded driver stages. The trend frame is the 7
  neighboring OBSERVED days (rows, not calendar positions); compose with
  ``orders_daily_gapfill`` first when the series has holes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.materialize import materialize
from ..sources.readers import load_table

#: integer scale for value micros (4 decimals)
_SCALE = 10_000


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
# 2. EWMA control chart (trailing exponentially-weighted baseline)
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
# 3. Language-ID confusion matrix (declared vs detected)
# --------------------------------------------------------------------------


def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the fixture's DECLARED language column against
    the stopword-argmax detector — the calibration readout that tells a
    corpus pipeline whether its cheap language filter can be trusted per
    language. One projection + one small groupBy; share is computed
    against the declared-language total via a broadcast join of the
    (≤ languages)-row totals frame."""
    from ..functions.text import language_id

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    guessed = docs.select("lang", language_id("text").alias("lang_guess"))
    cells = guessed.groupBy("lang", "lang_guess").agg(
        F.count("*").alias("n_docs")
    )
    totals = guessed.groupBy("lang").agg(F.count("*").alias("n_total"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "lang_guess",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy("lang", "lang_guess")
    )


LANGID_CONFUSION_SQL = """
WITH t AS (
  SELECT lang,
         regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks
  FROM documents WHERE text IS NOT NULL
),
h AS (
  SELECT lang,
         len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS en,
         len(list_filter(toks, x -> x IN ('el','la','de','que','los'))) AS es,
         len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS de,
         len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS fr
  FROM t
),
g AS (
  SELECT lang,
         CASE WHEN GREATEST(en, es, de, fr) = 0 THEN 'und'
              WHEN en = GREATEST(en, es, de, fr) THEN 'en'
              WHEN es = GREATEST(en, es, de, fr) THEN 'es'
              WHEN de = GREATEST(en, es, de, fr) THEN 'de'
              ELSE 'fr' END AS lang_guess
  FROM h
),
cells AS (
  SELECT lang, lang_guess, count(*) AS n_docs FROM g GROUP BY 1, 2
),
totals AS (
  SELECT lang, count(*) AS n_total FROM g GROUP BY 1
)
SELECT c.lang, c.lang_guess, c.n_docs,
       round(c.n_docs / t.n_total, 6) AS share
FROM cells c JOIN totals t USING (lang)
ORDER BY c.lang, c.lang_guess
"""


# --------------------------------------------------------------------------
# 4. Top user paths (path analysis over bounded user-day sequences)
# --------------------------------------------------------------------------


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most common user-day event paths (full symbol sequences),
    with occurrence counts — "what do sessions actually look like", the
    flow-analysis readout next to the funnel's fixed hypothesis.

    Reuses the deterministic bounded user-day sequences of
    events_pattern_match; the path space is capped by the per-day
    sequence length, and the final count is a small aggregate over it.
    Total (count DESC, seq ASC) order keeps the cut deterministic."""
    from .round7f_queries import user_day_sequences

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
# 5. Column entropy profile (information-theoretic feature audit)
# --------------------------------------------------------------------------

#: integer scale for per-value n·ln(n) terms
_ENT_SCALE = 1_000_000

_ENT_COLS = ["p_brand", "p_type", "p_size"]


def part_attribute_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each part attribute — the profiling
    number behind "is this column informative or near-constant", used for
    feature selection and partition-key choice.

    H = ln(N) − Σ n_v·ln(n_v)/N needs a float SUM over values — which is
    order-dependent and would break the hash gate. The fix is the repo's
    integerize-the-terms discipline: each value's n·ln(n) term is frozen
    to an integer micro-nat (floor(x·1e6 + 0.5)) BEFORE aggregation, so
    the sum is a BIGINT (exact in any order) and the only float chain is
    one ln and two divisions per OUTPUT row. norm_entropy divides by the
    ln of the distinct count (the column's maximum possible entropy).
    One stack projection + two small aggregates; at 100 TB the value
    histogram per column is the only shuffle, bounded by the columns'
    cardinality."""
    part = load_table(spark, sf_dir, "part")
    stacked = part.select(
        F.expr(
            "stack({}, {})".format(
                len(_ENT_COLS),
                ", ".join(f"'{c}', CAST({c} AS STRING)" for c in _ENT_COLS),
            )
        ).alias("column", "val")
    )
    counts = stacked.groupBy("column", "val").agg(F.count("*").alias("n_v"))
    per_col = counts.groupBy("column").agg(
        F.sum("n_v").alias("n_rows"),
        F.count("*").alias("n_values"),
        F.sum(
            F.expr(
                f"CAST(floor(n_v * ln(n_v) * {_ENT_SCALE} + 0.5) AS BIGINT)"
            )
        ).alias("s_micro"),
    )
    n = F.col("n_rows").cast("double")
    entropy = F.log(n) - F.col("s_micro") / n / F.lit(float(_ENT_SCALE))
    return per_col.select(
        "column",
        "n_rows",
        "n_values",
        F.round(entropy, 6).alias("entropy_nats"),
        F.round(
            entropy / F.log(F.col("n_values").cast("double")), 6
        ).alias("norm_entropy"),
    ).orderBy("column")


PART_ENTROPY_SQL = f"""
WITH stacked AS (
  SELECT 'p_brand' AS "column", CAST(p_brand AS VARCHAR) AS val FROM part
  UNION ALL
  SELECT 'p_type', CAST(p_type AS VARCHAR) FROM part
  UNION ALL
  SELECT 'p_size', CAST(p_size AS VARCHAR) FROM part
),
counts AS (
  SELECT "column", val, count(*) AS n_v FROM stacked GROUP BY 1, 2
),
per_col AS (
  SELECT "column",
         CAST(SUM(n_v) AS BIGINT) AS n_rows,
         COUNT(*) AS n_values,
         SUM(CAST(floor(n_v * ln(n_v) * {_ENT_SCALE} + 0.5) AS BIGINT)) AS s_micro
  FROM counts GROUP BY 1
)
SELECT "column", n_rows, n_values,
       round(ln(CAST(n_rows AS DOUBLE))
             - s_micro / CAST(n_rows AS DOUBLE) / {float(_ENT_SCALE)}, 6) AS entropy_nats,
       round((ln(CAST(n_rows AS DOUBLE))
              - s_micro / CAST(n_rows AS DOUBLE) / {float(_ENT_SCALE)})
             / ln(CAST(n_values AS DOUBLE)), 6) AS norm_entropy
FROM per_col
ORDER BY "column"
"""


# --------------------------------------------------------------------------
# 6. Linear multi-touch attribution
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
# 7. Cumulative-user growth curve
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
# 8. HLL rollup across time grains (continuous-aggregate pattern)
# --------------------------------------------------------------------------


def events_dau_rollup_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimates at DAY, WEEK, and MONTH grain from ONE
    per-day register table — the continuous-aggregate pattern: because
    HLL merge is per-bucket max (associative, commutative, idempotent),
    the finest-grain sketch re-aggregates to every coarser grain without
    touching the fact table again. At 100 TB the day-register table is
    O(days x 512) rows total; each rollup is a register-max groupBy over
    it — compare three separate COUNT(DISTINCT) passes, each a full-fact
    shuffle. Week boundaries are epoch-day arithmetic (engine-neutral),
    month via date_trunc. Same deterministic register algebra as the
    rolling-DAU family, so all three grains hash-gate."""
    from ..operators.sketches import hll_estimate, hll_merge, hll_registers

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(F.to_date("ts").alias("day"), "user_id")
    # all three grains read it; bound: days x 512 register rows
    day_reg = materialize(hll_registers(base, ["day"], "user_id"))

    epoch = F.lit("1970-01-01").cast("date")

    def grain(df, period_col, label):
        reg = hll_merge(
            df.select(period_col.alias("period_start"), "bucket", "r"),
            ["period_start"],
        )
        est = hll_estimate(reg, ["period_start"], out_col="dau_hll_micro")
        return est.select(
            F.lit(label).alias("grain"),
            "period_start",
            "v_empty",
            "reg_sum",
            "dau_hll_micro",
        )

    day_g = grain(day_reg, F.col("day"), "day")
    week_g = grain(
        day_reg,
        F.date_add(
            epoch,
            (F.floor(F.datediff(F.col("day"), epoch) / 7) * 7).cast("int"),
        ),
        "week",
    )
    month_g = grain(day_reg, F.trunc(F.col("day"), "month"), "month")
    return day_g.unionAll(week_g).unionAll(month_g).orderBy(
        "grain", "period_start"
    )


DAU_ROLLUP_HLL_SQL = """
WITH h AS (
  SELECT CAST(ts AS DATE) AS day,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS hv
  FROM events WHERE user_id IS NOT NULL
),
br AS (
  SELECT day, hv % 512 AS bucket,
         CASE WHEN (hv >> 9) = 0 THEN 44
              ELSE 44 - length(bin(hv >> 9)) END AS rho
  FROM h
),
day_reg AS (SELECT day, bucket, MAX(rho) AS r FROM br GROUP BY day, bucket),
grains AS (
  SELECT 'day' AS grain, day AS period_start, bucket, r FROM day_reg
  UNION ALL
  SELECT 'week',
         DATE '1970-01-01'
           + CAST(((day - DATE '1970-01-01') // 7) * 7 AS INTEGER),
         bucket, r
  FROM day_reg
  UNION ALL
  SELECT 'month', CAST(date_trunc('month', day) AS DATE), bucket, r
  FROM day_reg
),
merged AS (
  SELECT grain, period_start, bucket, MAX(r) AS r
  FROM grains GROUP BY 1, 2, 3
),
agg AS (
  SELECT grain, period_start,
         CAST(512 - COUNT(*) AS BIGINT) AS v_empty,
         CAST(CAST(SUM(CAST(1 AS BIGINT) << (44 - r)) AS BIGINT)
              + (512 - COUNT(*)) * 17592186044416 AS BIGINT) AS reg_sum
  FROM merged GROUP BY 1, 2
)
SELECT grain, period_start, v_empty, reg_sum,
       CAST(round((0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
                  * 17592186044416.0 / CAST(reg_sum AS DOUBLE) * 1000000.0)
            AS BIGINT) AS dau_hll_micro
FROM agg
ORDER BY grain, period_start
"""


QUERIES = {
    "events_seasonal_decompose": events_seasonal_decompose,
    "events_ewma_anomaly": events_ewma_anomaly,
    "docs_langid_confusion": docs_langid_confusion,
    "events_top_paths": events_top_paths,
    "part_attribute_entropy": part_attribute_entropy,
    "events_attribution_linear": events_attribution_linear,
    "events_cumulative_users": events_cumulative_users,
    "events_dau_rollup_hll": events_dau_rollup_hll,
}

ORACLES = {
    "events_seasonal_decompose": SEASONAL_DECOMPOSE_SQL,
    "events_ewma_anomaly": EWMA_ANOMALY_SQL,
    "docs_langid_confusion": LANGID_CONFUSION_SQL,
    "events_top_paths": TOP_PATHS_SQL,
    "part_attribute_entropy": PART_ENTROPY_SQL,
    "events_attribution_linear": ATTRIBUTION_LINEAR_SQL,
    "events_cumulative_users": CUMULATIVE_USERS_SQL,
    "events_dau_rollup_hll": DAU_ROLLUP_HLL_SQL,
}
