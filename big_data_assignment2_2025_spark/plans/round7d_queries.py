"""Round-7d queries: result snippets and grid-blocked band joins.

- **search snippets** (``search_snippets``): the result-rendering step a
  search engine runs after ranking — a ±3-token context window around
  the first query-term occurrence in each top-10 BM25 document. The
  reference prints raw doc titles only (``app/query.py:140``); snippets
  complete the retrieval UX. Everything is JVM array functions over the
  SAME tokenizer the index uses, so the snippet is consistent with what
  was matched; cost at 100 TB is re-tokenizing exactly k=10 documents
  (semi-joined to the top-k ids), not the corpus.
- **band join via time-grid blocking** (``events_band_join_grid``):
  pairs of same-user events within a ±5-minute band (errors near
  purchases — the incident-correlation shape). The naive spelling joins
  on user and filters |Δt| ≤ band, fanning out per-user errors x
  purchases; the scale spelling BLOCKS on the 5-minute time grid — each
  error row fans to its bucket and both neighbors (a bounded x3
  projection), the join keys on (user, bucket) so a pair is probed only
  if it can possibly be in band, and each in-band pair matches EXACTLY
  once (the purchase's bucket is always in the error's 3-bucket set).
  Same blocking discipline as the LSH band join and the fuzzy-match
  blocking key (SCALING §2); the DuckDB oracle is the naive inequality
  join, so the gate proves the blocked form loses nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..operators.index import build_index
from ..operators.search import bm25_scores, doc_scores, parse_query, top_k
from ..sources.readers import load_table, read_documents
from .search_queries import FLAGSHIP_QUERY, _TOKENS_CTE, rounded

# --------------------------------------------------------------------------
# 1. Search snippets
# --------------------------------------------------------------------------

_SNIP_CTX = 3  # tokens of context on each side


def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 results with a ±3-token snippet around the first
    query-term hit.

    The ranked top-k is the existing one-shuffle BM25 plan; the snippet
    pass joins the 10-row result back to the documents (broadcast of the
    tiny ranked frame), re-tokenizes those 10 texts only, and slices the
    token array around min(position of any query term) — pure ``slice``/
    ``array_join`` codegen, no explode of the corpus."""
    terms = parse_query(FLAGSHIP_QUERY)
    index = build_index(read_documents(spark, sf_dir))
    ranked = rounded(top_k(doc_scores(bm25_scores(index, F.col("term").isin(terms)))))
    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    hit = docs.join(F.broadcast(ranked), "doc_id").withColumn(
        "toks", tokenize(F.col("text"))
    )
    # 1-based position of the first token that is a query term
    pos = F.array_position(
        F.transform(F.col("toks"), lambda t: t.isin(*terms)), True
    )
    start = F.greatest(pos - _SNIP_CTX, F.lit(1))
    end = F.least(pos + _SNIP_CTX, F.size("toks"))
    return (
        hit.withColumn("p", pos)
        .withColumn(
            "snippet",
            F.when(
                F.col("p") > 0,
                F.array_join(
                    F.slice(F.col("toks"), start, end - start + 1), " "
                ),
            ).otherwise(F.lit("")),
        )
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            "doc_rank",
            "snippet",
        )
        .orderBy(F.col("doc_rank").desc(), F.col("doc_id").asc())
    )


def _snippets_oracle(query: str) -> str:
    terms = parse_query(query)
    values = ", ".join(f"('{t}')" for t in terms)
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {_TOKENS_CTE},
q(term) AS (VALUES {values}),
scored AS (
  SELECT tf.doc_id, tf.doc_title,
         ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE))
           * (2.0 * CAST(tf.term_frequency AS DOUBLE))
           / (1.0 * (0.25 + 0.75 * CAST(di.doc_length AS DOUBLE)
                        / (CAST(ci.total_doc_length AS DOUBLE) / CAST(ci.doc_n AS DOUBLE)))
              + CAST(tf.term_frequency AS DOUBLE)) AS bm25
  FROM tf
  JOIN q USING (term)
  JOIN vocab v USING (term, corpus_name)
  JOIN doc_info di USING (doc_id, doc_title)
  CROSS JOIN corpus_info ci
),
ranked AS (
  SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
         round(sum(bm25), 6) AS doc_rank
  FROM scored GROUP BY doc_id, doc_title
  ORDER BY sum(bm25) DESC, doc_id ASC
  LIMIT 10
),
toked AS (
  SELECT r.doc_id, r.doc_title, r.doc_rank,
         regexp_extract_all(lower(d.text), '[a-z0-9_'']+') AS toks
  FROM ranked r JOIN docs d ON d.doc_id = r.doc_id
),
hitpos AS (
  SELECT doc_id, doc_title, doc_rank, toks,
         (SELECT min(pos) FROM (
            SELECT unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos) u
          WHERE u.tok IN ({in_list})) AS p
  FROM toked
)
SELECT doc_id, doc_title, doc_rank,
       CASE WHEN p IS NOT NULL THEN
         array_to_string(
           toks[greatest(p - {_SNIP_CTX}, 1):least(p + {_SNIP_CTX}, len(toks))],
           ' ')
       ELSE '' END AS snippet
FROM hitpos
ORDER BY doc_rank DESC, doc_id ASC
"""


# --------------------------------------------------------------------------
# 2. Band join via time-grid blocking
# --------------------------------------------------------------------------

#: band half-width: pairs within ±5 minutes
_BAND_US = 300 * 1_000_000


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


QUERIES = {
    "search_snippets": search_snippets,
    "events_band_join_grid": events_band_join_grid,
}

ORACLES = {
    "search_snippets": _snippets_oracle(FLAGSHIP_QUERY),
    "events_band_join_grid": BAND_JOIN_SQL,
}
