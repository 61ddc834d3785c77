"""Declared queries for the reference's own surface: the inverted index
tables and BM25 ranked retrieval (SURVEY.md §2.1-§2.8), each with a DuckDB
oracle over the same parquet corpus.

The oracle SQL mirrors the index/scoring pipeline in ANSI SQL (CTEs). The
corpus fixture is the synthetic ``documents`` table with
``doc_title = concat('doc_', doc_id)`` per FIXTURES.md Group B.

Float determinism: BM25 ranks are rounded to 6 decimals on BOTH sides —
Spark's ``Math.log`` and DuckDB's ``ln`` can differ in the last ulp and
double summation order is engine-specific; 1e-6 rounding of O(1) scores
makes the hash comparison stable while still pinning the math to ~9
significant digits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.index import build_index
from ..operators.search import bm25_scores, parse_query
from ..sources.readers import read_documents, staged

FLAGSHIP_QUERY = "spark join window"

# Tokens of the synthetic documents are plain lowercase ASCII words, so the
# oracle tokenizer regexp matches our Unicode-aware one on this corpus.
_TOKENS_CTE = """
docs AS (
  SELECT doc_id, concat('doc_', CAST(doc_id AS VARCHAR)) AS doc_title, text
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(trim(text)) > 0
),
tokens AS (
  SELECT doc_id, doc_title,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS term
  FROM docs
),
tf AS (
  SELECT term, 'whole_corpus' AS corpus_name, doc_id, doc_title,
         CAST(count(*) AS INTEGER) AS term_frequency
  FROM tokens GROUP BY 1, 2, 3, 4
),
vocab AS (
  SELECT term, 'whole_corpus' AS corpus_name,
         CAST(count(*) AS INTEGER) AS doc_frequency
  FROM tf GROUP BY 1, 2
),
doc_info AS (
  SELECT doc_id, doc_title, CAST(sum(term_frequency) AS INTEGER) AS doc_length
  FROM tf GROUP BY 1, 2
),
corpus_info AS (
  SELECT 'whole_corpus' AS corpus_name, CAST(count(*) AS INTEGER) AS doc_n,
         CAST(sum(doc_length) AS INTEGER) AS total_doc_length
  FROM doc_info
)
"""


def _bm25_oracle(query: str, k: int = 10) -> str:
    terms = ", ".join(f"('{t}')" for t in parse_query(query))
    return f"""
WITH {_TOKENS_CTE},
q(term) AS (VALUES {terms}),
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
)
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(sum(bm25), 6) AS doc_rank
FROM scored
GROUP BY doc_id, doc_title
ORDER BY sum(bm25) DESC, doc_id ASC
LIMIT {k}
"""


def _search_rounded(spark: SparkSession, sf_dir: str, query: str, k: int = 10) -> DataFrame:
    index = build_index(read_documents(spark, sf_dir))
    scored = bm25_scores(index, parse_query(query))
    ranked = scored.groupBy("doc_id", "doc_title").agg(F.sum("bm25").alias("rank_raw"))
    return (
        ranked.orderBy(F.col("rank_raw").desc(), F.col("doc_id").asc())
        .limit(k)
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            F.round(F.col("rank_raw"), 6).alias("doc_rank"),
        )
    )


# --- queries() callables ---------------------------------------------------

def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _search_rounded(spark, sf_dir, FLAGSHIP_QUERY)


def q_bm25_search_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's real deployment shape: index once to parquet
    (offline), search from the materialized tables (online) — term
    predicates push down to the index scan instead of re-tokenizing the
    corpus per query."""
    from ..operators.index import load_materialized_index, materialize_index
    from ..operators.search import bm25_search

    def build(path: str) -> None:
        index = build_index(read_documents(spark, sf_dir))
        try:
            materialize_index(index, path)
        finally:
            # a cached relation left behind would also answer the NEXT
            # build's identical read plan after an in-place rewrite
            index.unpersist()

    idx = load_materialized_index(spark, staged(sf_dir, "bm25_index", build))
    ranked = bm25_search(idx, FLAGSHIP_QUERY, deterministic_ties=True)
    return ranked.select(
        "doc_id", "doc_title", F.round("doc_rank", 6).alias("doc_rank")
    )


def q_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-semantics retrieval: only documents containing EVERY query term
    rank (the reference's sum-of-scores is OR-semantics — a doc matching one
    term still scores). Same one-shuffle plan with a countDistinct(term)
    alongside the score sum; no second pass over the index."""
    terms = parse_query(FLAGSHIP_QUERY)
    index = build_index(read_documents(spark, sf_dir))
    scored = bm25_scores(index, terms)
    ranked = (
        scored.groupBy("doc_id", "doc_title")
        .agg(
            F.sum("bm25").alias("rank_raw"),
            F.countDistinct("term").alias("nt"),
        )
        .where(F.col("nt") == len(terms))
    )
    return (
        ranked.orderBy(F.col("rank_raw").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            F.round(F.col("rank_raw"), 6).alias("doc_rank"),
        )
    )


def _bm25_conjunctive_oracle(query: str, k: int = 10) -> str:
    terms = parse_query(query)
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""
WITH {_TOKENS_CTE},
q(term) AS (VALUES {values}),
scored AS (
  SELECT tf.doc_id, tf.doc_title, tf.term,
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
)
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(sum(bm25), 6) AS doc_rank
FROM scored
GROUP BY doc_id, doc_title
HAVING COUNT(DISTINCT term) = {len(terms)}
ORDER BY sum(bm25) DESC, doc_id ASC
LIMIT {k}
"""


def q_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF ranked retrieval over the same inverted index — the second
    scoring function an IR engine offers beside BM25. score(d) =
    Σ_t tf(t,d) * ln(N/df(t)); identical one-shuffle plan, only the score
    expression changes (no length normalization → no doc_info join)."""
    terms = parse_query(FLAGSHIP_QUERY)
    index = build_index(read_documents(spark, sf_dir))
    tf = index.term_freq.where(
        (F.col("corpus_name") == "whole_corpus") & F.col("term").isin(terms)
    )
    vocab = index.term_doc_freq.where(
        (F.col("corpus_name") == "whole_corpus") & F.col("term").isin(terms)
    )
    stats = index.corpus_info.select("doc_n")
    scored = (
        tf.join(F.broadcast(vocab), ["term", "corpus_name"])
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.col("term_frequency").cast("double")
            * F.log(
                F.col("doc_n").cast("double")
                / F.col("doc_frequency").cast("double")
            ),
        )
    )
    ranked = scored.groupBy("doc_id", "doc_title").agg(
        F.sum("w").alias("rank_raw")
    )
    return (
        ranked.orderBy(F.col("rank_raw").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            F.round("rank_raw", 6).alias("doc_rank"),
        )
    )


def _tfidf_oracle(query: str, k: int = 10) -> str:
    values = ", ".join(f"('{t}')" for t in parse_query(query))
    return f"""
WITH {_TOKENS_CTE},
q(term) AS (VALUES {values}),
scored AS (
  SELECT tf.doc_id, tf.doc_title,
         CAST(tf.term_frequency AS DOUBLE)
           * ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE)) AS w
  FROM tf
  JOIN q USING (term)
  JOIN vocab v USING (term, corpus_name)
  CROSS JOIN corpus_info ci
)
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(sum(w), 6) AS doc_rank
FROM scored
GROUP BY doc_id, doc_title
ORDER BY sum(w) DESC, doc_id ASC
LIMIT {k}
"""


def q_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-doc TF-IDF cosine over the RARE-term subspace (df <= 20), pairs
    with cosine >= 0.2.

    The df cap is the scale discipline: an uncapped shared-term self-join is
    quadratic in hot-term document frequency (every doc shares 'the'), while
    capping df bounds per-term fan-out to df_cap^2 — the same
    candidate-bounding principle as the LSH band join and the fuzzy-match
    blocking key. Both the dot product AND the norms are computed over the
    capped vocabulary, so the result is a proper cosine in that subspace.
    """
    df_cap, threshold = 20, 0.2
    index = build_index(read_documents(spark, sf_dir))
    rare = index.term_doc_freq.where(
        (F.col("corpus_name") == "whole_corpus")
        & (F.col("doc_frequency") <= df_cap)
    ).select("term", "doc_frequency")
    n_docs = index.corpus_info.select("doc_n")
    w = (
        index.term_freq.join(rare, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "doc_id",
            (
                F.col("term_frequency").cast("double")
                * F.log(
                    F.col("doc_n").cast("double")
                    / F.col("doc_frequency").cast("double")
                )
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    a = w.select(F.col("doc_id").alias("doc1"), "term", F.col("w").alias("w1"))
    b = w.select(F.col("doc_id").alias("doc2"), "term", F.col("w").alias("w2"))
    dots = (
        a.join(b, "term")
        .where(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("doc1"), F.col("norm").alias("n1")), "doc1")
        .join(norms.select(F.col("doc_id").alias("doc2"), F.col("norm").alias("n2")), "doc2")
        .withColumn("cosine", F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 6))
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("doc1").cast("int").alias("doc1"),
            F.col("doc2").cast("int").alias("doc2"),
            "cosine",
        )
    )


TFIDF_DOC_SIM_SQL = f"""
WITH {_TOKENS_CTE},
rare AS (SELECT term, doc_frequency FROM vocab WHERE doc_frequency <= 20),
w AS (
  SELECT tf.term, tf.doc_id,
         CAST(tf.term_frequency AS DOUBLE)
           * ln(CAST(ci.doc_n AS DOUBLE) / CAST(r.doc_frequency AS DOUBLE)) AS w
  FROM tf JOIN rare r USING (term) CROSS JOIN corpus_info ci),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS norm FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, SUM(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT CAST(doc1 AS INTEGER) AS doc1, CAST(doc2 AS INTEGER) AS doc2,
       round(dot / (n1.norm * n2.norm), 6) AS cosine
FROM dots
JOIN norms n1 ON n1.doc_id = doc1
JOIN norms n2 ON n2.doc_id = doc2
WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.2
"""


def q_bm25_single_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _search_rounded(spark, sf_dir, "spark")


def q_bm25_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # term absent from the vocabulary -> empty frame, stable schema
    # (reference app/query.py:38-54)
    return _search_rounded(spark, sf_dir, "zzzunseen")


def q_index_term_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_index(read_documents(spark, sf_dir))
    return idx.term_doc_freq


def q_index_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_index(read_documents(spark, sf_dir))
    return idx.term_freq.select(
        "term", "corpus_name", F.col("doc_id").cast("int").alias("doc_id"),
        "doc_title", "term_frequency",
    )


def q_index_doc_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_index(read_documents(spark, sf_dir))
    return idx.doc_info.select(
        F.col("doc_id").cast("int").alias("doc_id"), "doc_title", "doc_length"
    )


def q_index_corpus_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_index(read_documents(spark, sf_dir))
    return idx.corpus_info


QUERIES = {
    "bm25_search": q_bm25_search,
    "bm25_search_conjunctive": q_bm25_conjunctive,
    "tfidf_search": q_tfidf_search,
    "tfidf_doc_similarity": q_tfidf_doc_similarity,
    "bm25_single_term": q_bm25_single_term,
    "bm25_empty_result": q_bm25_empty,
    "index_term_doc_freq": q_index_term_doc_freq,
    "index_term_freq": q_index_term_freq,
    "index_doc_info": q_index_doc_info,
    "index_corpus_info": q_index_corpus_info,
    "bm25_search_materialized": q_bm25_search_materialized,
}

ORACLES = {
    "bm25_search": _bm25_oracle(FLAGSHIP_QUERY),
    "bm25_search_materialized": _bm25_oracle(FLAGSHIP_QUERY),
    "bm25_search_conjunctive": _bm25_conjunctive_oracle(FLAGSHIP_QUERY),
    "tfidf_search": _tfidf_oracle(FLAGSHIP_QUERY),
    "tfidf_doc_similarity": TFIDF_DOC_SIM_SQL,
    "bm25_single_term": _bm25_oracle("spark"),
    "bm25_empty_result": _bm25_oracle("zzzunseen"),
    "index_term_doc_freq": f"WITH {_TOKENS_CTE} SELECT term, corpus_name, doc_frequency FROM vocab",
    "index_term_freq": f"WITH {_TOKENS_CTE} SELECT term, corpus_name, CAST(doc_id AS INTEGER) AS doc_id, doc_title, term_frequency FROM tf",
    "index_doc_info": f"WITH {_TOKENS_CTE} SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title, doc_length FROM doc_info",
    "index_corpus_info": f"WITH {_TOKENS_CTE} SELECT corpus_name, doc_n, total_doc_length FROM corpus_info",
}
