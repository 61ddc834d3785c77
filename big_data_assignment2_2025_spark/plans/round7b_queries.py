"""Round-7b queries: exact-bitmap distinct, time-series gap fill, rank
fusion, positional phrase search, and incremental view maintenance.

Five workloads a production lakehouse runs daily that the registry did
not yet cover, each spelled scale-first:

- **chunked-bitmap exact distinct** (``events_bitmap_daily_users``):
  exact per-day distinct users via 32-bit bitmap words (``bit_or`` of
  ``1 << (user_id % 32)`` grouped by ``user_id DIV 32``) — the
  ClickHouse/Doris "bitmap" aggregate rebuilt from public integer
  primitives. ``bit_or`` combines map-side, so the shuffle carries at
  most days x occupied-words rows (8 bytes each) regardless of event
  volume — the EXACT counterpart to the HLL sketch family
  (``operators/sketches.py``): HLL when 2% error is fine, bitmaps when
  the id space is dense and exactness is required.
- **gap fill + linear interpolation** (``events_gap_fill_interpolate``):
  per-user daily calendar densification (``sequence`` explode bounded by
  each user's observed span) with IGNORE NULLS window walls and a frozen
  IEEE interpolation formula over integer-micros inputs — the
  time-series resample every metrics pipeline needs. Shuffle is one
  (user, day) aggregate plus one window over the densified frame.
- **reciprocal-rank fusion** (``search_rrf_fusion``): BM25 and TF-IDF
  top-20 lists fused by RRF(60) (Cormack et al., SIGIR'09) — the
  standard hybrid-retrieval combiner. Ranks are assigned over
  6-dp-rounded scores so rank order is engine-stable; the fusion
  arithmetic is then pure integer-rank math.
- **positional phrase search** (``search_phrase_match``): exact-phrase
  retrieval via a positional posting join (term1@p ⋈ term2@p+1) — the
  index shape the reference's TF-only schema cannot answer
  (``app/cassandra/schema.cql`` stores no positions; SURVEY.md §2.8).
  Both posting lists are filtered to the two phrase terms BEFORE the
  join, so the join input is two term-posting lists, not the corpus.
- **incremental view maintenance** (``ivm_orders_agg_refresh``):
  refresh a per-customer (count, sum) aggregate from a materialized
  partial-aggregate state plus a delta batch — re-aggregating compacted
  partials UNIONed with delta rows, never rescanning the base fact
  table. count/sum decompose over partials (the same mergeability that
  powers every sketch in SCALING §13); the oracle recomputes from
  scratch to prove refresh == full recompute.

No counterpart in the reference (index+query only); LLM-pipeline /
warehouse extension per SURVEY.md §7.6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..operators.index import build_index
from ..operators.search import bm25_scores, doc_scores, parse_query, tfidf_scores, top_k
from ..sources.readers import load_table, read_documents
from .search_queries import FLAGSHIP_QUERY, _TOKENS_CTE, rounded

# --------------------------------------------------------------------------
# 1. Chunked-bitmap exact distinct
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
# 2. Gap fill + linear interpolation
# --------------------------------------------------------------------------

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


# --------------------------------------------------------------------------
# 3. Reciprocal-rank fusion
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_DEPTH = 20


def _ranked_list(scored: DataFrame, rank_name: str) -> DataFrame:
    """Top-``_RRF_DEPTH`` (doc_id, doc_title, rank) by 6-dp-rounded score.

    Ranking over the ROUNDED score (ties split by doc_id) is what makes
    the rank assignment engine-stable: raw float sums can differ in the
    last ulp between engines, and a rank is a discontinuous function of
    the score order. Depth-k selection happens FIRST via ``top_k``
    (TakeOrderedAndProject — per-partition heaps, never a global sort);
    the row_number window then runs over the LIMIT-bounded 20-row frame,
    so the unpartitioned window is driver-trivial at any corpus size."""
    top = top_k(rounded(doc_scores(scored)), _RRF_DEPTH)
    w = Window.orderBy(F.col("doc_rank").desc(), F.col("doc_id").asc())
    return top.withColumn("r", F.row_number().over(w)).select(
        "doc_id", "doc_title", F.col("r").alias(rank_name)
    )


def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 and TF-IDF top-20 lists fused with
    reciprocal-rank fusion, RRF(d) = Σ 1/(60 + rank_i(d)).

    Both rankers share one inverted-index build (CacheManager dedups the
    identical sub-plans); the fusion is a full outer join of two <= 20-row
    frames — driver-trivial at any corpus size because the per-ranker
    top-k is TakeOrderedAndProject, never a global sort. The single-
    partition row_number window is over <= |query terms' postings| rows
    already reduced to doc grain; at 100 TB depth-k selection would ride
    the same distributed top-k as ``topk_orders``."""
    index = build_index(read_documents(spark, sf_dir))
    term_pred = F.col("term").isin(parse_query(FLAGSHIP_QUERY))
    a = _ranked_list(bm25_scores(index, term_pred), "r_bm25")
    b = _ranked_list(tfidf_scores(index, term_pred), "r_tfidf")
    fused = (
        a.join(b, ["doc_id", "doc_title"], "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_bm25")).cast("double"),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_tfidf")).cast("double"),
                F.lit(0.0),
            ),
        )
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


def _rrf_oracle(query: str) -> str:
    values = ", ".join(f"('{t}')" for t in parse_query(query))
    return f"""
WITH {_TOKENS_CTE},
q(term) AS (VALUES {values}),
bm25_scored AS (
  SELECT tf.doc_id, tf.doc_title,
         round(sum(
           ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE))
             * (2.0 * CAST(tf.term_frequency AS DOUBLE))
             / (1.0 * (0.25 + 0.75 * CAST(di.doc_length AS DOUBLE)
                          / (CAST(ci.total_doc_length AS DOUBLE) / CAST(ci.doc_n AS DOUBLE)))
                + CAST(tf.term_frequency AS DOUBLE))), 6) AS score
  FROM tf
  JOIN q USING (term)
  JOIN vocab v USING (term, corpus_name)
  JOIN doc_info di USING (doc_id, doc_title)
  CROSS JOIN corpus_info ci
  GROUP BY tf.doc_id, tf.doc_title
),
tfidf_scored AS (
  SELECT tf.doc_id, tf.doc_title,
         round(sum(CAST(tf.term_frequency AS DOUBLE)
           * ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE))), 6) AS score
  FROM tf
  JOIN q USING (term)
  JOIN vocab v USING (term, corpus_name)
  CROSS JOIN corpus_info ci
  GROUP BY tf.doc_id, tf.doc_title
),
a AS (
  SELECT doc_id, doc_title,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r_bm25
  FROM bm25_scored QUALIFY r_bm25 <= {_RRF_DEPTH}
),
b AS (
  SELECT doc_id, doc_title,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r_tfidf
  FROM tfidf_scored QUALIFY r_tfidf <= {_RRF_DEPTH}
)
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(coalesce(1.0 / CAST({_RRF_K} + r_bm25 AS DOUBLE), 0.0)
           + coalesce(1.0 / CAST({_RRF_K} + r_tfidf AS DOUBLE), 0.0), 6) AS rrf_score
FROM a FULL OUTER JOIN b USING (doc_id, doc_title)
ORDER BY coalesce(1.0 / CAST({_RRF_K} + r_bm25 AS DOUBLE), 0.0)
       + coalesce(1.0 / CAST({_RRF_K} + r_tfidf AS DOUBLE), 0.0) DESC,
       doc_id ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# 4. Positional phrase search
# --------------------------------------------------------------------------

#: Fixture-calibrated phrase: ~48 occurrences across ~46 docs at sf0.01 —
#: frequent enough to exercise multi-hit docs, rare enough to rank.
_PHRASE = ("table", "hash")


def search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval via a positional posting join.

    The positional index the reference never builds: ``posexplode`` over
    the shared tokenizer yields (doc_id, pos, term); the phrase match is
    postings(t1) ⋈ postings(t2) on (doc_id, pos+1). Both inputs are
    filtered to ONE term each before the join, so at 100 TB the join
    touches two posting lists (each pushed down to a term-predicate scan
    of a term-bucketed posting table), not the corpus; fan-out per doc is
    tf(t1) x tf(t2) only for docs containing both terms. Per-doc hit
    count aggregates map-side."""
    t1, t2 = _PHRASE
    docs = read_documents(spark, sf_dir)
    postings = docs.select(
        "doc_id",
        "doc_title",
        F.posexplode(tokenize(F.col("text"))).alias("pos", "term"),
    )
    p1 = postings.where(F.col("term") == t1).select(
        "doc_id", "doc_title", F.col("pos").alias("p1")
    )
    p2 = postings.where(F.col("term") == t2).select(
        "doc_id", F.col("pos").alias("p2")
    )
    hits = (
        p1.join(p2, ["doc_id"])
        .where(F.col("p2") == F.col("p1") + 1)
        .groupBy("doc_id", "doc_title")
        .agg(F.count("*").cast("long").alias("phrase_hits"))
    )
    return (
        hits.orderBy(F.col("phrase_hits").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            "phrase_hits",
        )
    )


PHRASE_MATCH_SQL = f"""
WITH docs AS (
  SELECT doc_id, concat('doc_', CAST(doc_id AS VARCHAR)) AS doc_title, text
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(trim(text)) > 0
),
postings AS (
  SELECT doc_id, doc_title,
         unnest(a) AS term, unnest(range(1, len(a) + 1)) AS pos
  FROM (SELECT doc_id, doc_title,
               regexp_extract_all(lower(text), '[a-z0-9_'']+') AS a
        FROM docs)
),
hits AS (
  SELECT p1.doc_id, p1.doc_title, CAST(count(*) AS BIGINT) AS phrase_hits
  FROM (SELECT doc_id, doc_title, pos FROM postings WHERE term = '{_PHRASE[0]}') p1
  JOIN (SELECT doc_id, pos FROM postings WHERE term = '{_PHRASE[1]}') p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
  GROUP BY p1.doc_id, p1.doc_title
)
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title, phrase_hits
FROM hits
ORDER BY phrase_hits DESC, doc_id ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# 5. Incremental view maintenance (partial-agg refresh)
# --------------------------------------------------------------------------

#: Everything before the split is the "materialized" base state; at or
#: after it is the delta batch. Orders span 1995..2001, so the delta is
#: the last ~1.6 years — a realistic refresh ratio.
_IVM_SPLIT = "2000-01-01"


def ivm_orders_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh per-customer (order_count, total_cents) from materialized
    partials + a delta batch, without rescanning the base facts.

    count and sum are MERGEABLE: the refreshed view is
    re-agg(partials ∪ delta-partials). Here the base partials are built
    once (in production they'd be read back from the materialized store —
    the plan after the union is identical either way) and the delta scan
    is predicate-pushed to ``o_orderdate >= split``. At 100 TB the
    refresh shuffles |customers| + |delta| rows instead of |base facts|
    — the same partial-agg mergeability that makes every sketch in
    SCALING §13 distributable. Money stays in exact integer cents until
    output. Oracle recomputes the view from scratch: refresh must equal
    full recompute."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice").cast("double") * 100).cast("long").alias(
            "cents"
        ),
    )
    split = F.lit(_IVM_SPLIT).cast("date")
    base = orders.where(F.col("o_orderdate") < split)
    delta = orders.where(F.col("o_orderdate") >= split)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("cnt"), F.sum("cents").alias("total_cents")
        )

    refreshed = (
        partials(base)
        .unionAll(partials(delta))
        .groupBy("o_custkey")
        .agg(
            F.sum("cnt").cast("long").alias("order_count"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
    )
    return refreshed.orderBy("o_custkey")


IVM_REFRESH_SQL = """
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS order_count,
       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# 6. Deterministic per-group sample
# --------------------------------------------------------------------------

_GROUP_SAMPLE_K = 5


def orders_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible k-per-group sample: 5 orders per market segment by
    md5-hash priority — the per-stratum companion of the global
    ``corpus_hash_sample`` / weighted priority sampler.

    The priority is a pure function of the key (52 bits of md5), so the
    sample is stable across runs, engines, and partitionings — the
    property that makes pipeline reruns and A/B eval sets reproducible.
    One broadcast join (customer dim → segment) + one PARTITIONED window
    (row_number per segment over hash order): no global sort, no driver
    collect; per-group state at 100 TB is the k-row heap Spark keeps per
    window partition."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    pri = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13), 16, 10
    ).cast("long")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("priority").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.join(F.broadcast(cust), "o_custkey")
        .withColumn("priority", pri)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _GROUP_SAMPLE_K)
        .select(
            "c_mktsegment",
            F.col("rn").cast("int").alias("rn"),
            "o_orderkey",
            "priority",
        )
        .orderBy("c_mktsegment", "rn")
    )


GROUP_SAMPLE_SQL = f"""
WITH pri AS (
  SELECT c.c_mktsegment, o.o_orderkey,
         ('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 13))::BIGINT
           AS priority
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
ranked AS (
  SELECT c_mktsegment, o_orderkey, priority,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY priority ASC, o_orderkey ASC) AS rn
  FROM pri
)
SELECT c_mktsegment, CAST(rn AS INTEGER) AS rn, o_orderkey, priority
FROM ranked WHERE rn <= {_GROUP_SAMPLE_K}
ORDER BY c_mktsegment, rn
"""


# --------------------------------------------------------------------------
# 7. CDC snapshot diff
# --------------------------------------------------------------------------

_CDC_SPLIT = "2000-01-01"


def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: emit one row per
    INSERT / UPDATE / DELETE with old and new values.

    Snapshots are derived deterministically from ``orders`` (A = the full
    pre-2000 state; B = today's state, where every 13th pre-2000 key has
    been deleted, post-2000 keys inserted, and every 7th open order's
    price touched up), then diffed with ONE
    hash-partitioned full outer join on the primary key — the change
    feed a lakehouse derives when the source system has no native CDC.
    Unchanged rows are dropped AFTER the join by column compare; at
    100 TB the standard refinement is comparing a persisted per-row
    digest instead of N columns (same join shape, narrower shuffle), and
    partition-level pruning skips partitions whose aggregate checksum
    (``table_checksum``'s partial) is unchanged. Money is exact integer
    cents end to end."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.round(F.col("o_totalprice").cast("double") * 100).cast("long").alias(
            "cents"
        ),
    )
    split = F.lit(_CDC_SPLIT).cast("date")
    snap_a = orders.where(F.col("o_orderdate") < split).select(
        "o_orderkey", "o_custkey", F.col("cents").alias("cents_a")
    )
    snap_b = (
        orders.where(
            (F.col("o_orderdate") >= split) | (F.col("o_orderkey") % 13 != 0)
        )
        .withColumn(
            "cents_b",
            F.when(
                (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 7 == 0),
                F.col("cents") + F.lit(100),
            ).otherwise(F.col("cents")),
        )
        .select("o_orderkey", "o_custkey", "cents_b")
    )
    diff = snap_a.join(snap_b, ["o_orderkey", "o_custkey"], "full_outer")
    return (
        diff.withColumn(
            "change_type",
            F.when(F.col("cents_a").isNull(), F.lit("insert"))
            .when(F.col("cents_b").isNull(), F.lit("delete"))
            .when(F.col("cents_a") != F.col("cents_b"), F.lit("update")),
        )
        .where(F.col("change_type").isNotNull())
        .select("o_orderkey", "o_custkey", "change_type", "cents_a", "cents_b")
        .orderBy("o_orderkey")
    )


CDC_DIFF_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM orders
),
snap_a AS (
  SELECT o_orderkey, o_custkey, cents AS cents_a
  FROM base
  WHERE o_orderdate < DATE '{_CDC_SPLIT}'
),
snap_b AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderstatus = 'O' AND o_orderkey % 7 = 0
              THEN cents + 100 ELSE cents END AS cents_b
  FROM base
  WHERE o_orderdate >= DATE '{_CDC_SPLIT}' OR o_orderkey % 13 != 0
)
SELECT o_orderkey, o_custkey,
       CASE WHEN cents_a IS NULL THEN 'insert'
            WHEN cents_b IS NULL THEN 'delete'
            WHEN cents_a != cents_b THEN 'update' END AS change_type,
       cents_a, cents_b
FROM snap_a FULL OUTER JOIN snap_b USING (o_orderkey, o_custkey)
WHERE (cents_a IS NULL) OR (cents_b IS NULL) OR (cents_a != cents_b)
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# 8. int8 scalar quantization of embeddings
# --------------------------------------------------------------------------

def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization of the embedding
    column — the 4x-compression storage format ANN services serve from
    (code_i = floor(x_i * 127 / max|x| + 0.5)).

    All array math stays in JVM higher-order functions (``transform`` /
    ``aggregate``) — no Python, no explode shuffle: the scan is the only
    job. Codes are INTEGERS from a frozen IEEE expression over the raw
    floats (``floor(x+0.5)`` rounding — engine-unambiguous, unlike
    half-even ``round``), so the whole code vector is cross-engine exact;
    the output carries integer checksums of the codes rather than the
    array itself to keep the hash gate on scalar columns. At 100 TB this
    runs as a one-pass mapper feeding the PQ/IVF build
    (``operators/pq.py``), which consumes the same quantized geometry."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    m = F.array_max(F.transform(x, lambda v: F.abs(v)))
    codes = F.transform(
        x, lambda v: F.floor(v * F.lit(127.0) / F.col("m") + F.lit(0.5)).cast("long")
    )
    q = (
        emb.withColumn("m", m)
        .where(F.col("m") > 0)
        .withColumn("codes", codes)
    )
    dot = F.aggregate(
        F.zip_with(F.col("codes"), F.col("codes"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    s = F.aggregate(F.col("codes"), F.lit(0).cast("long"), lambda acc, v: acc + v)
    return q.select(
        "vec_id",
        F.round(F.col("m") * 1e6).cast("long").alias("scale_micro"),
        s.alias("code_sum"),
        dot.alias("code_sq_sum"),
        F.array_min("codes").cast("long").alias("code_min"),
        F.array_max("codes").cast("long").alias("code_max"),
    ).orderBy("vec_id")


INT8_QUANT_SQL = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
),
scaled AS (
  SELECT vec_id, x,
         list_max(list_transform(x, v -> abs(v))) AS m
  FROM base
),
coded AS (
  SELECT vec_id, m,
         list_transform(x, v -> CAST(floor(v * 127.0 / m + 0.5) AS BIGINT)) AS codes
  FROM scaled
  WHERE m > 0
)
SELECT vec_id,
       CAST(round(m * 1e6) AS BIGINT) AS scale_micro,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_sum(list_transform(codes, c -> c * c)) AS BIGINT) AS code_sq_sum,
       CAST(list_min(codes) AS BIGINT) AS code_min,
       CAST(list_max(codes) AS BIGINT) AS code_max
FROM coded
ORDER BY vec_id
"""


QUERIES = {
    "events_bitmap_daily_users": events_bitmap_daily_users,
    "events_gap_fill_interpolate": events_gap_fill_interpolate,
    "search_rrf_fusion": search_rrf_fusion,
    "search_phrase_match": search_phrase_match,
    "ivm_orders_agg_refresh": ivm_orders_agg_refresh,
    "orders_group_sample": orders_group_sample,
    "snapshot_diff_cdc": snapshot_diff_cdc,
    "embedding_int8_quantize": embedding_int8_quantize,
}

ORACLES = {
    "events_bitmap_daily_users": BITMAP_DAU_SQL,
    "events_gap_fill_interpolate": GAP_FILL_SQL,
    "search_rrf_fusion": _rrf_oracle(FLAGSHIP_QUERY),
    "search_phrase_match": PHRASE_MATCH_SQL,
    "ivm_orders_agg_refresh": IVM_REFRESH_SQL,
    "orders_group_sample": GROUP_SAMPLE_SQL,
    "snapshot_diff_cdc": CDC_DIFF_SQL,
    "embedding_int8_quantize": INT8_QUANT_SQL,
}
