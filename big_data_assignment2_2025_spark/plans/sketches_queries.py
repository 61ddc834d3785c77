"""Deterministic sketches and column statistics: HyperLogLog distinct
counts and rollups, count-min frequencies, KMV set algebra, chunked
bitmaps, fixed-bin histogram quantiles, heavy hitters, weighted sampling,
bloom-filter pruning (operators/sketches.py), and the column profiles a
planner or data-quality monitor keeps (most-common values, null and range
audits, observed metrics, entropy).

Each sketch's STATE is engine-reproducible (SCALING §13): hashes are
md5-derived, registers and counters are integer algebra, and the estimate
is a frozen-order IEEE tail, so each query hash-gates against a literal
DuckDB mirror. The streaming twins live in plans/streaming_queries.py and
share these oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_of
from ..operators.materialize import materialize
from ..operators.sketches import (
    bloom_bitmap,
    bloom_probe_flag,
    heavy_hitters,
    hist_quantile_sketch,
    hll_estimate,
    hll_merge,
    hll_registers,
    weighted_priority_sample,
)
from ..sources.readers import load_table
from .search_queries import _oracle_tokens


def heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the token stream WITHOUT shuffling the full
    vocabulary: ``operators.sketches.heavy_hitters`` (freqItems candidate
    pass -> one exact verification aggregate whose group key folds
    non-candidates into a NULL bucket, so counts AND the grand total come
    from the same scan). The result is bit-equal to the full
    ``GROUP BY ... HAVING`` oracle, but the only keys that ever shuffle
    are the <=1/support candidates (+1 bucket) — at 100 TB the difference
    between shuffling a 1e9-term vocabulary and ~100 keys."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = tokens_of(docs.select("text"))
    return heavy_hitters(toks, "term", support=0.01)


HEAVY_HITTERS_SQL = f"""
WITH tok AS (
  SELECT unnest({_oracle_tokens()}) AS term
  FROM documents WHERE text IS NOT NULL
),
tot AS (SELECT COUNT(*) AS n_total FROM tok)
SELECT term, COUNT(*) AS cnt, (SELECT n_total FROM tot) AS n_total
FROM tok
GROUP BY term
HAVING COUNT(*) > 0.01 * (SELECT n_total FROM tot)
"""


def events_rolling_dau_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch twin of ``events_rolling_dau``, built on the
    DETERMINISTIC HyperLogLog of ``operators/sketches.py`` (md5-carved
    52-bit hash, 512 registers) instead of Spark's engine-opaque
    ``approx_count_distinct`` — same HLL++ family, but the registers are
    reproducible from the data alone, so the query is value-verifiable
    cross-engine (hash-gated oracle) where the built-in never could be.

    This is the decomposable path for EXTREME scale, and the plan shows
    it: facts reduce to per-day registers FIRST (map-side-partial max,
    <= days x 512 rows out of the scan — independent of user count),
    the bounded 7-day fan-out then replicates REGISTERS, not users, and
    the window merge is another partial max. Total shuffle is
    O(days x 512) rows whatever the event volume — compare the exact
    twin's 7 x daily-active rows. Emits the raw estimator plus the
    (v_empty, reg_sum) sketch state; the ln-based small-range correction
    is a driver-side post-step (see ``hll_estimate``). Days observed only
    through NULL user_ids carry an empty window sketch and are emitted by
    neither engine (the raw estimator is degenerate on an empty sketch)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(F.to_date("ts").alias("day"), "user_id")
    day_reg = hll_registers(base, ["day"], "user_id")
    fan = day_reg.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "win_day"
        ),
        "bucket",
        "r",
    )
    observed = ev.select(F.to_date("ts").alias("win_day")).distinct()
    win_reg = hll_merge(fan.join(observed, "win_day"), ["win_day"])
    return hll_estimate(win_reg, ["win_day"], out_col="dau7_hll_micro").select(
        F.col("win_day").alias("day"), "v_empty", "reg_sum", "dau7_hll_micro"
    )


# Literal SQL mirror of hll_registers/hll_merge/hll_estimate: same 52-bit
# md5 hash, same integer register algebra, same frozen-order IEEE estimate
# chain (((alpha * m) * m) * 2^44 / S) * 1e6 — bit-identical by
# construction (operators/sketches.py docstrings).
HLL_ROLLING_DAU_SQL = """
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
fan AS (
  SELECT day + CAST(t.k AS INTEGER) AS win_day, bucket, r
  FROM day_reg, range(7) t(k)
),
obs AS (SELECT DISTINCT CAST(ts AS DATE) AS win_day FROM events),
win_reg AS (
  SELECT f.win_day, f.bucket, MAX(f.r) AS r
  FROM fan f JOIN obs USING (win_day)
  GROUP BY f.win_day, f.bucket
),
agg AS (
  SELECT win_day,
         CAST(512 - COUNT(*) AS BIGINT) AS v_empty,
         CAST(CAST(SUM(CAST(1 AS BIGINT) << (44 - r)) AS BIGINT)
              + (512 - COUNT(*)) * 17592186044416 AS BIGINT) AS reg_sum
  FROM win_reg GROUP BY win_day
)
SELECT win_day AS day, v_empty, reg_sum,
       CAST(round((0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
                  * 17592186044416.0 / CAST(reg_sum AS DOUBLE) * 1000000.0)
            AS BIGINT) AS dau7_hll_micro
FROM agg
"""


#: events.value sits in (0, ~500]; the sketch domain is the fixed range
#: [0, 512) at micro precision — 256 bins of exactly 2.0 units. Values
#: outside saturate into the end bins (documented fixed-range-histogram
#: semantics; the fixture never exercises saturation, tests do).
VALUE_LO_MICRO = 0
VALUE_HI_MICRO = 512_000_000
VALUE_BINS = 256
VALUE_PERCENTS = [50, 90, 99]


# histogram quantiles (``events_value_quantiles_hist``): per-type
# p50/p90/p99 of ``events.value`` via the mergeable fixed-range
# histogram of ``operators/sketches.py hist_quantile_sketch`` — integer
# bin counts that combine map-side (each task emits <= groups x 256
# rows whatever the event volume), quantile recovery by integer
# cumulative-count inversion, error bounded by one bin width. The
# monitoring shape a 100 TB pipeline runs hourly, where the exact
# rank-based path (``operators/ranking.py``) would re-rank the world.
def events_value_quantiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p50/p90/p99 of ``value`` from the mergeable
    histogram sketch (see module docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return hist_quantile_sketch(
        ev,
        ["event_type"],
        "value",
        VALUE_LO_MICRO,
        VALUE_HI_MICRO,
        VALUE_BINS,
        VALUE_PERCENTS,
    )


# Literal mirror of hist_quantile_sketch's integer algebra: micro-round,
# clamp, width-256 binning, cumulative-count inversion with the integer
# ceil (n*p+99)//100. Width = 2_000_000 micros; every column BIGINT.
HIST_QUANTILES_SQL = """
WITH b AS (
  SELECT event_type,
         (least(greatest(CAST(round(value * 1e6) AS BIGINT), 0), 511999999)
          - 0) // 2000000 AS bin
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM b GROUP BY event_type, bin
),
cum AS (
  SELECT event_type, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM counts
),
tot AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
  FROM counts GROUP BY event_type
),
cand AS (
  SELECT c.event_type, CAST(p.p_pct AS BIGINT) AS p_pct, t.n, c.bin
  FROM cum c
  JOIN tot t USING (event_type)
  CROSS JOIN (VALUES (50), (90), (99)) p(p_pct)
  WHERE c.cum >= (t.n * p.p_pct + 99) // 100
)
SELECT event_type, p_pct, n, MIN(bin) AS qbin,
       CAST(MIN(bin) * 2000000 + 0 AS BIGINT) AS q_lo_micro
FROM cand GROUP BY event_type, p_pct, n
"""


# HLL set algebra (``events_audience_overlap_hll``): distinct-user
# union by per-bucket register max, intersection by inclusion-exclusion
# on the micro-rounded estimates — audience overlap without ever
# shuffling a user set.
def events_audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra WITHOUT moving user sets: how many distinct
    users viewed, purchased, did either, did both — from per-segment HLL
    registers only.

    This is the operation that justifies sketches at 100 TB: the exact
    answer needs a distinct-user shuffle per segment PLUS an intersection
    join; the sketch answer merges two 512-register arrays (per-bucket
    max = union is the one set operation HLL supports natively) and gets
    the intersection by inclusion-exclusion on the three estimates —
    |A∩B| = |A| + |B| - |A∪B| — as BIGINT subtraction of already-rounded
    micro estimates, so the whole query stays hash-gated. Standard
    caveat, inherited from HLL itself: the intersection's ERROR scales
    with the union size, so it is a monitoring number for
    comparably-sized audiences, not a precision instrument for tiny
    overlaps (tests bound it against the exact intersection). Per-segment
    ``v_empty`` is emitted alongside the raw estimates so callers can
    apply the ln-based small-range correction driver-side (the
    ``hll_estimate`` contract) — at fixture scale the correction is the
    difference between 374 and the true 15, so tests correct first.

    One register build (groupBy event_type — map-side partial, 2 x 512
    rows), one merge, three estimates, one row out."""
    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(
        ev.where(F.col("event_type").isin("view", "purchase")),
        ["event_type"],
        "user_id",
    )
    tagged = regs.select(
        F.col("event_type").alias("s"), "bucket", "r"
    ).unionAll(
        hll_merge(regs, []).select(F.lit("union").alias("s"), "bucket", "r")
    )
    est = hll_estimate(tagged, ["s"], out_col="est_micro")

    def _pick(seg: str, col: str):
        return F.max(F.when(F.col("s") == seg, F.col(col)))

    wide = est.groupBy().agg(
        _pick("view", "est_micro").alias("view_users_micro"),
        _pick("purchase", "est_micro").alias("purchase_users_micro"),
        _pick("union", "est_micro").alias("either_users_micro"),
        _pick("view", "v_empty").alias("view_v_empty"),
        _pick("purchase", "v_empty").alias("purchase_v_empty"),
        _pick("union", "v_empty").alias("either_v_empty"),
    )
    return wide.select(
        "view_users_micro",
        "purchase_users_micro",
        "either_users_micro",
        (
            F.col("view_users_micro")
            + F.col("purchase_users_micro")
            - F.col("either_users_micro")
        ).alias("both_users_micro"),
        "view_v_empty",
        "purchase_v_empty",
        "either_v_empty",
    )


# Literal mirror: per-type registers, union by per-bucket max over both
# sets, the frozen-order estimate chain per segment, inclusion-exclusion
# as BIGINT subtraction of the micro-rounded estimates.
AUDIENCE_OVERLAP_SQL = """
WITH br AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT % 512
           AS bucket,
         CASE WHEN ((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT) >> 9) = 0 THEN 44
              ELSE 44 - length(bin((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT) >> 9)) END
           AS rho
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')
),
regs AS (
  SELECT event_type AS s, bucket, MAX(rho) AS r
  FROM br GROUP BY event_type, bucket
),
tagged AS (
  SELECT s, bucket, r FROM regs
  UNION ALL
  SELECT 'union' AS s, bucket, MAX(r) AS r FROM regs GROUP BY bucket
),
agg AS (
  SELECT s,
         CAST(512 - COUNT(*) AS BIGINT) AS v_empty,
         CAST(CAST(SUM(CAST(1 AS BIGINT) << (44 - r)) AS BIGINT)
              + (512 - COUNT(*)) * 17592186044416 AS BIGINT) AS reg_sum
  FROM tagged GROUP BY s
),
est AS (
  SELECT s, v_empty,
         CAST(round((0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
                    * 17592186044416.0 / CAST(reg_sum AS DOUBLE) * 1000000.0)
              AS BIGINT) AS est_micro
  FROM agg
)
SELECT MAX(CASE WHEN s = 'view' THEN est_micro END) AS view_users_micro,
       MAX(CASE WHEN s = 'purchase' THEN est_micro END) AS purchase_users_micro,
       MAX(CASE WHEN s = 'union' THEN est_micro END) AS either_users_micro,
       MAX(CASE WHEN s = 'view' THEN est_micro END)
         + MAX(CASE WHEN s = 'purchase' THEN est_micro END)
         - MAX(CASE WHEN s = 'union' THEN est_micro END) AS both_users_micro,
       MAX(CASE WHEN s = 'view' THEN v_empty END) AS view_v_empty,
       MAX(CASE WHEN s = 'purchase' THEN v_empty END) AS purchase_v_empty,
       MAX(CASE WHEN s = 'union' THEN v_empty END) AS either_v_empty
FROM est
"""


# rolling quantiles (``events_rolling_quantiles_hist``): 7-day
# sliding p50/p99 by ADDING day histograms over a bounded count fan-out
# — exact quantiles don't decompose over sliding windows; counts do.
def events_rolling_quantiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day p50/p99 of ``value`` per day — the quantile analog
    of the rolling-DAU pair, and the reason the histogram sketch earns
    its place: EXACT quantiles do not decompose over sliding windows (a
    window's percentile cannot be computed from per-day percentiles, only
    from re-ranking the window's raw rows — 7x the fact volume per day),
    but histogram COUNTS add. So: per-day bin counts (map-side partial,
    <= days x 256 rows off the scan), a bounded 7-day fan-out of COUNT
    rows, one summing merge per (window, bin), and the integer inversion.
    Shuffle O(days x 256 x 7) whatever the event volume — same shape the
    deterministic HLL gives rolling distinct (SCALING §13, measured in
    DAUSKETCH_r7.json). Observedness mirrors the DAU queries: a day is
    emitted iff observed (row existence) and its window holds >= 1 count."""
    width = (VALUE_HI_MICRO - VALUE_LO_MICRO) // VALUE_BINS
    ev = load_table(spark, sf_dir, "events")
    from ..operators.sketches import hist_bin_expr, hist_quantiles_from_counts

    proj = ev.where(F.col("value").isNotNull()).select(
        F.to_date("ts").alias("day"),
        hist_bin_expr("value", VALUE_LO_MICRO, VALUE_HI_MICRO, width).alias(
            "bin"
        ),
    )
    day_counts = proj.groupBy("day", "bin").agg(F.count("*").alias("cnt"))
    fan = day_counts.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "win_day"
        ),
        "bin",
        "cnt",
    )
    observed = ev.select(F.to_date("ts").alias("win_day")).distinct()
    win_counts = (
        fan.join(observed, "win_day")
        .groupBy("win_day", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return hist_quantiles_from_counts(
        win_counts, ["win_day"], VALUE_LO_MICRO, width, [50, 99]
    ).select(
        F.col("win_day").alias("day"), "p_pct", "n", "qbin", "q_lo_micro"
    )


# Literal mirror of the rolling composition: day counts -> bounded count
# fan-out -> summing window merge -> the same integer inversion as
# HIST_QUANTILES_SQL (n from a full-frame MAX of cum, matching
# hist_quantiles_from_counts).
ROLLING_HIST_QUANTILES_SQL = """
WITH b AS (
  SELECT CAST(ts AS DATE) AS day,
         (least(greatest(CAST(round(value * 1e6) AS BIGINT), 0), 511999999)
          - 0) // 2000000 AS bin
  FROM events WHERE value IS NOT NULL
),
dc AS (
  SELECT day, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM b GROUP BY day, bin
),
fan AS (
  SELECT day + CAST(t.k AS INTEGER) AS win_day, bin, cnt
  FROM dc, range(7) t(k)
),
obs AS (SELECT DISTINCT CAST(ts AS DATE) AS win_day FROM events),
wc AS (
  SELECT f.win_day, f.bin, CAST(SUM(f.cnt) AS BIGINT) AS cnt
  FROM fan f JOIN obs USING (win_day)
  GROUP BY f.win_day, f.bin
),
cum AS (
  SELECT win_day, bin,
         CAST(SUM(cnt) OVER (PARTITION BY win_day ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM wc
),
cum2 AS (
  SELECT win_day, bin, cum,
         MAX(cum) OVER (PARTITION BY win_day ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n
  FROM cum
),
cand AS (
  SELECT c.win_day, CAST(p.p_pct AS BIGINT) AS p_pct, c.n, c.bin
  FROM cum2 c
  CROSS JOIN (VALUES (50), (99)) p(p_pct)
  WHERE c.cum >= (c.n * p.p_pct + 99) // 100
)
SELECT win_day AS day, p_pct, n, MIN(bin) AS qbin,
       CAST(MIN(bin) * 2000000 + 0 AS BIGINT) AS q_lo_micro
FROM cand GROUP BY win_day, p_pct, n
"""


# Bloom semi-join pruning (``orders_bloom_prune``): 4 KB bit_or
# bitmap build, literal-map codegen probe with zero joins/exchanges on
# the fact side, deterministic false-positive set.
def orders_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning readout: how many orders rows a
    4 KB broadcast bitmap keeps versus the exact semi-join against
    BUILDING-segment customers — the runtime-filter pattern that prunes a
    100 TB probe scan without shuffling it.

    Build side: the segment's customer keys fold into <= 512 (word, bits)
    rows by an idempotent ``bit_or`` (map-side partial; bitmaps from
    different shards merge by ``bit_or`` exactly like HLL registers merge
    by ``max``), collected once as bounded driver state. Probe side:
    orders evaluates a literal-map lookup + bitwise test per hash, all
    inside codegen — ZERO joins and ZERO exchanges in the probe plan
    (test-asserted). Because the k=2
    double-hash positions are deterministic md5 bit-slices, the
    false-positive SET (not just its rate) is engine-reproducible, which
    is what lets this query hash-gate. Output pins the pruning quality:
    (n_orders, n_bloom_pass, n_true_match, n_false_positives); no false
    negatives by construction (test-asserted row-level)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seg = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bm = bloom_bitmap(seg, "c_custkey")
    probed = bloom_probe_flag(orders.select("o_custkey"), "o_custkey", bm)
    truth = seg.distinct().withColumn("_true", F.lit(True))
    flagged = probed.join(
        F.broadcast(truth),
        probed["o_custkey"] == truth["c_custkey"],
        "left",
    )
    return flagged.agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias(
            "n_bloom_pass"
        ),
        F.sum(F.when(F.col("_true").isNotNull(), 1).otherwise(0)).alias(
            "n_true_match"
        ),
        F.sum(
            F.when(F.col("bloom_pass") & F.col("_true").isNull(), 1).otherwise(0)
        ).alias("n_false_positives"),
    )


# Literal mirror of bloom_bitmap/bloom_probe_flag: same md5 slices, same
# double-hash positions (h1 + i*h2 mod 32256), 63-bit words (bit 63 is
# the one position DuckDB's checked shift and the JVM's wrapping shift
# disagree on, so neither engine ever sets it), bit_or fold, two probe
# lookups per key.
BLOOM_PRUNE_SQL = """
WITH seg AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
hp AS (
  SELECT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13))::BIGINT AS h1,
         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 14, 13))::BIGINT AS h2
  FROM seg
),
pos AS (
  SELECT (h1 + CAST(t.k AS BIGINT) * h2) % 32256 AS pos
  FROM hp, range(2) t(k)
),
bm AS (
  SELECT pos // 63 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits
  FROM pos GROUP BY pos // 63
),
op AS (
  SELECT o_custkey,
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13))::BIGINT AS h1,
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 14, 13))::BIGINT AS h2
  FROM orders
),
probed AS (
  SELECT o.o_custkey,
         COALESCE((b0.bits
            & (CAST(1 AS BIGINT) << CAST((o.h1 % 32256) % 63 AS INTEGER)))
            != 0, FALSE)
         AND COALESCE((b1.bits
            & (CAST(1 AS BIGINT) << CAST(((o.h1 + o.h2) % 32256) % 63 AS INTEGER)))
            != 0, FALSE) AS bloom_pass
  FROM op o
  LEFT JOIN bm b0 ON (o.h1 % 32256) // 63 = b0.word
  LEFT JOIN bm b1 ON ((o.h1 + o.h2) % 32256) // 63 = b1.word
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN p.bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pass,
       CAST(SUM(CASE WHEN s.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_match,
       CAST(SUM(CASE WHEN p.bloom_pass AND s.c_custkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives
FROM probed p
LEFT JOIN (SELECT DISTINCT c_custkey FROM seg) s ON p.o_custkey = s.c_custkey
"""


#: Columns profiled by lineitem_distinct_profile_hll — a mix of key-like
#: (high-cardinality) and enum-like columns, so the readout exercises
#: both HLL regimes.
PROFILE_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
                "l_linestatus"]


# one-scan profiling (``lineitem_distinct_profile_hll``): per-column
# approx distinct via a stack unpivot feeding per-column registers.
def lineitem_distinct_profile_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan data profiling: approximate distinct-value count for five
    lineitem columns from a SINGLE pass — the table-profiling tool a
    100 TB warehouse runs after every load, where five exact
    COUNT(DISTINCT)s would be five full-key shuffles (or one 5-way Expand
    that quintuples the scan's output rows into one giant shuffle).

    The ``stack`` generator unpivots the five columns to (col, val)
    STRING pairs in-projection; ``hll_registers`` folds them map-side to
    <= 5 x 512 register rows — the only shuffle, independent of row count
    and of every column's cardinality. Emits the usual
    (v_empty, reg_sum, raw estimate) triple per column; small-range
    correction driver-side as always."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in PROFILE_COLS
    )
    unpivoted = li.select(
        F.expr(f"stack({len(PROFILE_COLS)}, {pairs}) AS (col, val)")
    )
    regs = hll_registers(unpivoted, ["col"], "val")
    return hll_estimate(regs, ["col"], out_col="n_distinct_micro").select(
        "col", "v_empty", "reg_sum", "n_distinct_micro"
    )


# Literal mirror: UNION ALL unpivot (same CAST-to-string values), same
# register algebra and frozen estimate chain as HLL_ROLLING_DAU_SQL.
DISTINCT_PROFILE_SQL = """
WITH unpv AS (
  SELECT 'l_orderkey' AS col, CAST(l_orderkey AS VARCHAR) AS val FROM lineitem
  UNION ALL
  SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', CAST(l_returnflag AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem
),
br AS (
  SELECT col,
         ('0x' || substr(md5(val), 1, 13))::BIGINT % 512 AS bucket,
         CASE WHEN ((('0x' || substr(md5(val), 1, 13))::BIGINT) >> 9) = 0
              THEN 44
              ELSE 44 - length(bin((('0x' || substr(md5(val), 1, 13))::BIGINT) >> 9))
         END AS rho
  FROM unpv WHERE val IS NOT NULL
),
regs AS (SELECT col, bucket, MAX(rho) AS r FROM br GROUP BY col, bucket),
agg AS (
  SELECT col,
         CAST(512 - COUNT(*) AS BIGINT) AS v_empty,
         CAST(CAST(SUM(CAST(1 AS BIGINT) << (44 - r)) AS BIGINT)
              + (512 - COUNT(*)) * 17592186044416 AS BIGINT) AS reg_sum
  FROM regs GROUP BY col
)
SELECT col, v_empty, reg_sum,
       CAST(round((0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
                  * 17592186044416.0 / CAST(reg_sum AS DOUBLE) * 1000000.0)
            AS BIGINT) AS n_distinct_micro
FROM agg
"""


#: Watchlist for the CMS point-estimate readout: a fixed literal key set
#: (user ids 1..10) so the lookup is IN-list-pushed on the exact side
#: and pure arithmetic on the sketch side.
CMS_WATCH_USERS = list(range(1, 11))


def events_user_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-frequency estimates for a fixed watchlist from a
    Count-Min sketch built in ONE scan — the frequency-monitoring shape
    (abuse/rate watchlists) where exact per-key counts would shuffle the
    full user universe every run.

    The counter build shuffles <= 3 x 1024 rows whatever the event
    volume (``cms_counters``); the watchlist lookup is d broadcast joins
    against the counter table plus a min — and the exact side, run here
    for the readout, is an IN-list-pushed filtered aggregate that never
    touches the rest of the key universe. Output pins the one-sided CMS
    guarantee row by row: est_cnt >= true_cnt always (never an
    undercount, test-asserted), overcount bounded by bucket collisions.
    Deterministic md5 double hashing → the estimates (collisions and
    all) are bit-identical on any engine: hash-gated."""
    from ..operators.sketches import cms_counters, cms_estimate_for_keys

    ev = load_table(spark, sf_dir, "events")
    counters = cms_counters(ev, "user_id")
    watch = spark.createDataFrame(
        [(int(u),) for u in CMS_WATCH_USERS], "user_id long"
    )
    est = cms_estimate_for_keys(counters, watch, "user_id")
    true_cnt = (
        ev.where(F.col("user_id").isin(CMS_WATCH_USERS))
        .groupBy("user_id")
        .agg(F.count("*").alias("true_cnt"))
    )
    return (
        est.join(true_cnt, "user_id", "left")
        .select(
            "user_id",
            "est_cnt",
            F.coalesce(F.col("true_cnt"), F.lit(0).cast("long")).alias(
                "true_cnt"
            ),
        )
    )


# Literal mirror: one-scan counter build (3 positions per row via the
# range(3) fan-out, folded by GROUP BY), per-key min-over-rows lookup,
# IN-list exact counts for the same watchlist.
CMS_USER_FREQ_SQL = """
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h1,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 14, 13))::BIGINT AS h2
  FROM events WHERE user_id IS NOT NULL
),
counters AS (
  SELECT CAST(t.k AS BIGINT) AS row,
         (h1 + CAST(t.k AS BIGINT) * h2) % 1024 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM h, range(3) t(k)
  GROUP BY CAST(t.k AS BIGINT), (h1 + CAST(t.k AS BIGINT) * h2) % 1024
),
watch AS (
  SELECT CAST(t.k + 1 AS BIGINT) AS user_id,
         ('0x' || substr(md5(CAST(t.k + 1 AS VARCHAR)), 1, 13))::BIGINT AS h1,
         ('0x' || substr(md5(CAST(t.k + 1 AS VARCHAR)), 14, 13))::BIGINT AS h2
  FROM range(10) t(k)
),
est AS (
  SELECT w.user_id,
         least(
           COALESCE(c0.cnt, 0),
           COALESCE(c1.cnt, 0),
           COALESCE(c2.cnt, 0)
         ) AS est_cnt
  FROM watch w
  LEFT JOIN counters c0 ON c0.row = 0 AND c0.bucket = (w.h1 + 0 * w.h2) % 1024
  LEFT JOIN counters c1 ON c1.row = 1 AND c1.bucket = (w.h1 + 1 * w.h2) % 1024
  LEFT JOIN counters c2 ON c2.row = 2 AND c2.bucket = (w.h1 + 2 * w.h2) % 1024
),
tc AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events
  WHERE user_id IN (1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
  GROUP BY user_id
)
SELECT e.user_id, CAST(e.est_cnt AS BIGINT) AS est_cnt,
       COALESCE(t.true_cnt, 0) AS true_cnt
FROM est e LEFT JOIN tc t USING (user_id)
"""


def events_audience_diff_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra WITH set difference: how many distinct users
    viewed, purchased, did either, did both, viewed-but-never-purchased,
    purchased-but-never-viewed — from two <=256-row KMV samples.

    The query HLL structurally cannot answer: inclusion-exclusion gives
    |A∩B| but A∖B membership needs an actual SAMPLE of the distinct
    universe, and the KMV threshold property provides one — a hash below
    both thetas is in A's sample iff it is in A at all, so the
    difference counts are exact lookups over the <=512 joined sample
    rows, scaled by the shared union estimator (theta-sketch a-not-b).
    When both audiences have < k distinct users the samples are complete
    and every output is EXACT (the sf0.001 fixture regime). All counts
    are integers and each estimate is one frozen-order IEEE chain
    (``kmv_est_micro``), so the whole row hash-gates.

    One distinct-dimension reduce (map-side partial), one
    WindowGroupLimit-pruned re-rank, then a <=512-row full-outer join
    and a single-row aggregate."""
    from ..operators.sketches import KMV_K, kmv_est_micro, kmv_sketch, kmv_theta

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(
        ev.where(F.col("event_type").isin("view", "purchase")),
        ["event_type"],
        "user_id",
    )
    th = kmv_theta(sk, ["event_type"])

    def _pick(seg: str, col: str):
        return F.max(F.when(F.col("event_type") == seg, F.col(col)))

    th_wide = th.groupBy().agg(
        _pick("view", "theta").alias("ta"),
        _pick("view", "n_sample").alias("na"),
        _pick("purchase", "theta").alias("tb"),
        _pick("purchase", "n_sample").alias("nb"),
    )
    a = sk.where(F.col("event_type") == "view").select(
        "h", F.lit(True).alias("in_a")
    )
    b = sk.where(F.col("event_type") == "purchase").select(
        "h", F.lit(True).alias("in_b")
    )
    m = (
        a.join(b, ["h"], "full")
        .select(
            "h",
            F.coalesce("in_a", F.lit(False)).alias("in_a"),
            F.coalesce("in_b", F.lit(False)).alias("in_b"),
        )
        .crossJoin(F.broadcast(th_wide))
    )
    below = F.col("h") < F.least("ta", "tb")

    def _cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    c = m.groupBy().agg(
        _cnt(below).alias("cnt_union"),
        _cnt(below & F.col("in_a") & F.col("in_b")).alias("cnt_inter"),
        _cnt(below & F.col("in_a") & ~F.col("in_b")).alias("cnt_anotb"),
        _cnt(below & F.col("in_b") & ~F.col("in_a")).alias("cnt_bnota"),
        F.max("ta").alias("ta"),
        F.max("na").alias("na"),
        F.max("tb").alias("tb"),
        F.max("nb").alias("nb"),
    )
    theta = F.least("ta", "tb")
    cnt_a = F.when(F.col("na") == KMV_K, F.lit(KMV_K - 1)).otherwise(
        F.col("na")
    )
    cnt_b = F.when(F.col("nb") == KMV_K, F.lit(KMV_K - 1)).otherwise(
        F.col("nb")
    )
    return c.select(
        kmv_est_micro(cnt_a, F.col("ta")).alias("view_users_micro"),
        kmv_est_micro(cnt_b, F.col("tb")).alias("purchase_users_micro"),
        kmv_est_micro(F.col("cnt_union"), theta).alias("either_users_micro"),
        kmv_est_micro(F.col("cnt_inter"), theta).alias("both_users_micro"),
        kmv_est_micro(F.col("cnt_anotb"), theta).alias(
            "view_only_users_micro"
        ),
        kmv_est_micro(F.col("cnt_bnota"), theta).alias(
            "purchase_only_users_micro"
        ),
        F.col("na").alias("view_sample_n"),
        F.col("nb").alias("purchase_sample_n"),
    )


# Literal mirror of the KMV pipeline: distinct (segment, hash), ranked
# k-smallest samples, thresholds with the complete-sample sentinel
# 2^52, a full-outer sample join, and the same frozen-order estimator
# chain cnt * 2^52 / theta * 1e6 per output column.
AUDIENCE_DIFF_KMV_SQL = """
WITH base AS (
  SELECT DISTINCT event_type AS s,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')
),
rk AS (
  SELECT s, h, ROW_NUMBER() OVER (PARTITION BY s ORDER BY h) AS rk FROM base
),
sk AS (SELECT s, h FROM rk WHERE rk <= 256),
perseg AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
         CASE WHEN COUNT(*) < 256 THEN CAST(4503599627370496 AS BIGINT)
              ELSE MAX(h) END AS theta
  FROM sk GROUP BY s
),
th AS (
  SELECT MAX(CASE WHEN s = 'view' THEN theta END) AS ta,
         MAX(CASE WHEN s = 'view' THEN n END) AS na,
         MAX(CASE WHEN s = 'purchase' THEN theta END) AS tb,
         MAX(CASE WHEN s = 'purchase' THEN n END) AS nb
  FROM perseg
),
m AS (
  SELECT COALESCE(a.h, b.h) AS h,
         a.h IS NOT NULL AS in_a,
         b.h IS NOT NULL AS in_b
  FROM (SELECT h FROM sk WHERE s = 'view') a
  FULL JOIN (SELECT h FROM sk WHERE s = 'purchase') b ON a.h = b.h
),
c AS (
  SELECT
    CAST(SUM(CASE WHEN h < least(ta, tb) THEN 1 ELSE 0 END) AS BIGINT)
      AS cnt_union,
    CAST(SUM(CASE WHEN h < least(ta, tb) AND in_a AND in_b
             THEN 1 ELSE 0 END) AS BIGINT) AS cnt_inter,
    CAST(SUM(CASE WHEN h < least(ta, tb) AND in_a AND NOT in_b
             THEN 1 ELSE 0 END) AS BIGINT) AS cnt_anotb,
    CAST(SUM(CASE WHEN h < least(ta, tb) AND in_b AND NOT in_a
             THEN 1 ELSE 0 END) AS BIGINT) AS cnt_bnota,
    MAX(ta) AS ta, MAX(na) AS na, MAX(tb) AS tb, MAX(nb) AS nb
  FROM m CROSS JOIN th
)
SELECT
  CAST(round(CAST(CASE WHEN na = 256 THEN 255 ELSE na END AS DOUBLE)
             * 4503599627370496.0 / CAST(ta AS DOUBLE) * 1000000.0)
       AS BIGINT) AS view_users_micro,
  CAST(round(CAST(CASE WHEN nb = 256 THEN 255 ELSE nb END AS DOUBLE)
             * 4503599627370496.0 / CAST(tb AS DOUBLE) * 1000000.0)
       AS BIGINT) AS purchase_users_micro,
  CAST(round(CAST(cnt_union AS DOUBLE)
             * 4503599627370496.0 / CAST(least(ta, tb) AS DOUBLE)
             * 1000000.0) AS BIGINT) AS either_users_micro,
  CAST(round(CAST(cnt_inter AS DOUBLE)
             * 4503599627370496.0 / CAST(least(ta, tb) AS DOUBLE)
             * 1000000.0) AS BIGINT) AS both_users_micro,
  CAST(round(CAST(cnt_anotb AS DOUBLE)
             * 4503599627370496.0 / CAST(least(ta, tb) AS DOUBLE)
             * 1000000.0) AS BIGINT) AS view_only_users_micro,
  CAST(round(CAST(cnt_bnota AS DOUBLE)
             * 4503599627370496.0 / CAST(least(ta, tb) AS DOUBLE)
             * 1000000.0) AS BIGINT) AS purchase_only_users_micro,
  na AS view_sample_n,
  nb AS purchase_sample_n
FROM c
"""


# --------------------------------------------------------------------------
# Chunked-bitmap exact distinct
# --------------------------------------------------------------------------

#: 32-bit words: the widest shift that stays clear of BIGINT sign-bit
#: overflow on every engine (DuckDB raises on ``1::BIGINT << 63``).
_WORD_BITS = 32


def bitmap_distinct_agg(
    df: DataFrame, group_cols: list, id_col: str
) -> DataFrame:
    """Exact distinct count of non-negative ``id_col`` per group via
    chunked 32-bit bitmap words: (group, ``id DIV 32``) → ``bit_or`` of
    ``1 << (id % 32)`` → sum of ``bit_count``. Both aggregates combine
    map-side; the only data-sized shuffle carries ≤ groups x
    ceil(id_universe/32) 8-byte words. Returns (group_cols..., dau,
    words_touched)."""
    words = (
        df.select(
            *group_cols,
            F.expr(f"{id_col} DIV {_WORD_BITS}").alias("bucket"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({id_col}, {_WORD_BITS}) AS INT))"
            ).alias("bit"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.bit_or("bit").alias("word"))
    )
    return words.groupBy(*group_cols).agg(
        F.sum(F.bit_count("word")).cast("long").alias("dau"),
        F.count("*").cast("long").alias("words_touched"),
    )


# chunked-bitmap exact distinct (``events_bitmap_daily_users``):
# exact per-day distinct users via 32-bit bitmap words (``bit_or`` of
# ``1 << (user_id % 32)`` grouped by ``user_id DIV 32``) — the
# ClickHouse/Doris "bitmap" aggregate rebuilt from public integer
# primitives. ``bit_or`` combines map-side, so the shuffle carries at
# most days x occupied-words rows (8 bytes each) regardless of event
# volume — the EXACT counterpart to the HLL sketch family
# (``operators/sketches.py``): HLL when 2% error is fine, bitmaps when
# the id space is dense and exactness is required.
def events_bitmap_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per day via chunked bitmap words.

    Each user occupies one bit of word ``user_id DIV 32``; ``bit_or``
    unions bitmaps and is a partial aggregate, so every map task emits at
    most one 8-byte word per (day, bucket) before the shuffle — at 100 TB
    the shuffle is days x ceil(id_universe/32) words, independent of the
    event count, and the per-group state is a single BIGINT (vs
    ``collect_set``'s unbounded set). ``bit_count`` then reads the exact
    cardinality straight off the words. Dense-id exact counterpart of the
    HLL path (``events_rolling_dau_approx``)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & (F.col("user_id") >= 0)
    )
    return bitmap_distinct_agg(
        ev.select(F.to_date("ts").alias("day"), "user_id"), ["day"], "user_id"
    ).orderBy("day")


BITMAP_DAU_SQL = f"""
WITH words AS (
  SELECT CAST(ts AS DATE) AS day,
         user_id // {_WORD_BITS} AS bucket,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % {_WORD_BITS} AS INT)) AS word
  FROM events
  WHERE user_id IS NOT NULL AND user_id >= 0
  GROUP BY 1, 2
)
SELECT day,
       CAST(sum(bit_count(word)) AS BIGINT) AS dau,
       CAST(count(*) AS BIGINT) AS words_touched
FROM words
GROUP BY day
ORDER BY day
"""


# --------------------------------------------------------------------------
# MCV column stats
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


# MCV column stats (``lineitem_mcv_stats``): the optimizer-style
# most-common-values summary (top-5 values + frequency fraction per
# column) for the low-cardinality lineitem columns, via one stacked
# unpivot scan → (column, value) counts → per-column top-k window. The
# ANALYZE-statistics shape: selectivity estimation at 100 TB needs MCVs
# precisely when values are skewed, and the per-column partitioned
# window is WindowGroupLimit-pruned so only k rows per column cross the
# final exchange.
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
# HLL rollup across time grains (continuous-aggregate pattern)
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


def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-biased deterministic document sample: 100 docs with the
    smallest ``hash52(doc_id)/n_chars`` priority (longer docs likelier).
    Top-k compiles to TakeOrderedAndProject — per-partition heaps, no
    global sort — and the priority needs no RNG/seed: any engine replays
    the identical sample from the data alone."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    # priority is bit-identical cross-engine (two exact IEEE divisions of
    # hash-derived integers) — no rounding, unlike order-dependent float sums
    return weighted_priority_sample(docs, "doc_id", "n_chars", 100)


WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, n_chars,
       (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
        / 4503599627370496.0) / n_chars AS priority
FROM documents
WHERE n_chars > 0
ORDER BY priority ASC, doc_id ASC
LIMIT 100
"""


# --------------------------------------------------------------------------
# Observed metrics (single-pass data-quality telemetry)
# --------------------------------------------------------------------------


def observed_profile(spark: SparkSession, sf_dir: str):
    """(result DataFrame, Observation) — the observation rides the same
    scan as the aggregate; Observation.get is valid after any action on
    the returned frame. Metrics are counts/extrema only (deterministic;
    a float SUM metric would be partial-order-dependent)."""
    orders = load_table(spark, sf_dir, "orders")
    obs = Observation()
    watched = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_custkey").isNull()).alias("n_null_cust"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )
    result = (
        watched.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            # exact integer-cents sum, ONE frozen division: a raw double
            # SUM's 4th decimal is partial-order-dependent once the total
            # nears 1e11 (the r11 10x oracle sweep caught exactly that)
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )
    return result, obs


# observed metrics (``orders_observed_profile``): ``DataFrame.observe``
# attaches named aggregate metrics to an existing plan — data-quality
# telemetry (row counts, null rates, extrema) computed IN the same pass as
# the query, zero extra scans. At 100 TB this is the difference between
# free pipeline observability and doubling the read bill; the query result
# is oracle-gated as usual, and the test asserts the observed metrics
# against independent recomputation.
def orders_observed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status order profile with observe()-attached quality metrics
    (row count, null-FK count, date extrema) computed in the SAME pass —
    the zero-extra-scan pipeline-telemetry pattern."""
    result, _ = observed_profile(spark, sf_dir)
    return result


ORDERS_OBSERVED_PROFILE_SQL = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --------------------------------------------------------------------------
# Column entropy profile (information-theoretic feature audit)
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


QUERIES = {
    "events_rolling_dau_approx": events_rolling_dau_approx,
    "heavy_hitter_terms": heavy_hitter_terms,
    "events_value_quantiles_hist": events_value_quantiles_hist,
    "events_audience_overlap_hll": events_audience_overlap_hll,
    "orders_bloom_prune": orders_bloom_prune,
    "events_rolling_quantiles_hist": events_rolling_quantiles_hist,
    "lineitem_distinct_profile_hll": lineitem_distinct_profile_hll,
    "events_user_freq_cms": events_user_freq_cms,
    "events_audience_diff_kmv": events_audience_diff_kmv,
    "events_bitmap_daily_users": events_bitmap_daily_users,
    "lineitem_mcv_stats": lineitem_mcv_stats,
    "events_dau_rollup_hll": events_dau_rollup_hll,
    "data_profile_orders": data_profile_orders,
    "sample_weighted_priority": sample_weighted_priority,
    "orders_observed_profile": orders_observed_profile,
    "part_attribute_entropy": part_attribute_entropy,
}

ORACLES = {
    "events_rolling_dau_approx": HLL_ROLLING_DAU_SQL,
    "heavy_hitter_terms": HEAVY_HITTERS_SQL,
    "events_user_freq_cms": CMS_USER_FREQ_SQL,
    "events_audience_diff_kmv": AUDIENCE_DIFF_KMV_SQL,
    "lineitem_distinct_profile_hll": DISTINCT_PROFILE_SQL,
    "orders_bloom_prune": BLOOM_PRUNE_SQL,
    "events_rolling_quantiles_hist": ROLLING_HIST_QUANTILES_SQL,
    "events_value_quantiles_hist": HIST_QUANTILES_SQL,
    "events_audience_overlap_hll": AUDIENCE_OVERLAP_SQL,
    "events_bitmap_daily_users": BITMAP_DAU_SQL,
    "lineitem_mcv_stats": MCV_STATS_SQL,
    "events_dau_rollup_hll": DAU_ROLLUP_HLL_SQL,
    "data_profile_orders": DATA_PROFILE_SQL,
    "sample_weighted_priority": WEIGHTED_SAMPLE_SQL,
    "orders_observed_profile": ORDERS_OBSERVED_PROFILE_SQL,
    "part_attribute_entropy": PART_ENTROPY_SQL,
}
