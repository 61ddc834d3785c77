"""Declared queries for the reference's own surface: the inverted index
tables, BM25/TF-IDF ranked retrieval (SURVEY.md §2.1-§2.8) and the search
extensions built on them (phrase match, prefix expansion, negation, rank
fusion, snippets, spelling suggestion, index maintenance), each with a
DuckDB oracle over the same parquet corpus.

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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize, tokens_of
from ..operators.index import (
    InvertedIndex,
    build_index,
    delete_documents,
    idempotent_reindex,
    incremental_reindex,
    load_materialized_index,
    materialize_index,
)
from ..operators.search import (
    bm25_scores,
    bm25_search,
    doc_scores,
    parse_query,
    postings,
    tfidf_expr,
    tfidf_scores,
    top_k,
)
from ..sources.readers import load_table, read_documents, staged


FLAGSHIP_QUERY = "spark join window"

# Tokens of the synthetic documents are plain lowercase ASCII words, so the
# oracle tokenizer regexp matches our Unicode-aware one on this corpus.
def _oracle_tokens(text: str = "text") -> str:
    """DuckDB's form of ``functions.text.tokenize`` over the column ``text``:
    the one tokenizer every oracle uses."""
    return f"regexp_extract_all(lower({text}), '[a-z0-9_'']+')"


#: DuckDB's per-(term, doc) BM25 weight (k1 = 1, b = 0.75, the
#: operators/search.py constants) over ``_TOKENS_CTE``'s tf, vocab ``v``,
#: doc_info ``di`` and corpus_info ``ci``.
_BM25_SQL = """ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE))
           * (2.0 * CAST(tf.term_frequency AS DOUBLE))
           / (1.0 * (0.25 + 0.75 * CAST(di.doc_length AS DOUBLE)
                        / (CAST(ci.total_doc_length AS DOUBLE) / CAST(ci.doc_n AS DOUBLE)))
              + CAST(tf.term_frequency AS DOUBLE))"""


def _tfidf_sql(vocab: str = "v") -> str:
    """DuckDB's per-(term, doc) TF-IDF weight, document frequency read from
    the ``vocab`` alias."""
    return f"""CAST(tf.term_frequency AS DOUBLE)
           * ln(CAST(ci.doc_n AS DOUBLE) / CAST({vocab}.doc_frequency AS DOUBLE))"""


_TOKENS_CTE = f"""
docs AS (
  SELECT doc_id, concat('doc_', CAST(doc_id AS VARCHAR)) AS doc_title, text
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(trim(text)) > 0
),
tokens AS (
  SELECT doc_id, doc_title,
         unnest({_oracle_tokens()}) AS term
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
         CAST(coalesce(sum(doc_length), 0) AS INTEGER) AS total_doc_length
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
         {_BM25_SQL} AS bm25
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


def rounded(ranked: DataFrame) -> DataFrame:
    """``doc_rank`` rounded to the oracles' 6 dp."""
    return ranked.withColumn("doc_rank", F.round("doc_rank", 6))


def _search_rounded(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    return rounded(bm25_search(build_index(read_documents(spark, sf_dir)), query))


# --- queries() callables ---------------------------------------------------

def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _search_rounded(spark, sf_dir, FLAGSHIP_QUERY)


def _bm25_store(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    """The full-corpus index, materialized to parquet once per fixture and
    reopened from the store."""

    def build(path: str) -> None:
        materialize_index(build_index(read_documents(spark, sf_dir)), path)

    return load_materialized_index(spark, staged(sf_dir, "bm25_index", build))


def q_bm25_search_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's real deployment shape: index once to parquet
    (offline), search from the materialized tables (online) — term
    predicates push down to the index scan instead of re-tokenizing the
    corpus per query."""
    return rounded(bm25_search(_bm25_store(spark, sf_dir), FLAGSHIP_QUERY))


def q_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-semantics retrieval: only documents containing EVERY query term
    rank (the reference's sum-of-scores is OR-semantics — a doc matching one
    term still scores). Same one-shuffle plan with a countDistinct(term)
    alongside the score sum; no second pass over the index."""
    terms = parse_query(FLAGSHIP_QUERY)
    index = build_index(read_documents(spark, sf_dir))
    docs = doc_scores(
        bm25_scores(index, F.col("term").isin(terms)),
        F.countDistinct("term").alias("nt"),
    )
    return rounded(top_k(docs.where(F.col("nt") == len(terms))))


def _bm25_conjunctive_oracle(query: str, k: int = 10) -> str:
    terms = parse_query(query)
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""
WITH {_TOKENS_CTE},
q(term) AS (VALUES {values}),
scored AS (
  SELECT tf.doc_id, tf.doc_title, tf.term,
         {_BM25_SQL} AS bm25
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
    index = build_index(read_documents(spark, sf_dir))
    scored = tfidf_scores(index, F.col("term").isin(parse_query(FLAGSHIP_QUERY)))
    return rounded(top_k(doc_scores(scored)))


def _tfidf_oracle(query: str, k: int = 10) -> str:
    values = ", ".join(f"('{t}')" for t in parse_query(query))
    return f"""
WITH {_TOKENS_CTE},
q(term) AS (VALUES {values}),
scored AS (
  SELECT tf.doc_id, tf.doc_title,
         {_tfidf_sql()} AS w
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
    doc_n = (index.corpus_stats() or (None, None))[0]
    w = index.term_freq.join(rare, "term").select(
        "term", "doc_id", tfidf_expr(doc_n).alias("w")
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
         {_tfidf_sql("r")} AS w
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


# A5  incremental index accumulation (reference reducer1.py:18-24,
# reducer2.py:32-39 read-modify-write upserts — including the
# double-count-on-reindex quirk, replayed faithfully by the oracle)
def index_incremental_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index even-id docs, then accumulate odd-id docs as a delta; return
    the merged per-term doc_frequency table (reference A5 semantics)."""
    corpus = read_documents(spark, sf_dir)
    old = build_index(corpus.where(F.col("doc_id") % 2 == 0))
    merged = incremental_reindex(old, corpus.where(F.col("doc_id") % 2 == 1))
    return merged.term_doc_freq.select("term", "corpus_name", "doc_frequency")


#: doc_frequency of a fresh build over the whole corpus: what accumulating
#: the odd-id delta onto the even-id index and re-indexing the whole corpus
#: idempotently must both produce.
INDEX_DOC_FREQ_SQL = f"""
WITH t AS (
  SELECT doc_id, {_oracle_tokens()} AS toks
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0),
per_doc AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
SELECT term, 'whole_corpus' AS corpus_name,
       CAST(COUNT(*) AS INTEGER) AS doc_frequency
FROM per_doc
GROUP BY term
"""


def index_rebuild_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-index the full corpus into an index that already contains it,
    via the IDEMPOTENT re-index path (``--rebuild``: the delta's documents
    replace their stored versions): the result must equal a fresh single
    build — no double-count quirk.  The oracle is therefore the plain fresh-build
    doc_frequency SQL; the reference store cannot express this at all
    (``reducer1.py:18-24`` only accumulates). The old side is the store
    ``bm25_search_materialized`` stages — the CLI ``--rebuild`` shape:
    load the store, re-index the corpus."""
    corpus = read_documents(spark, sf_dir)
    merged = idempotent_reindex(_bm25_store(spark, sf_dir), corpus)
    return merged.term_doc_freq.select("term", "corpus_name", "doc_frequency")


def index_delete_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the full index, then DELETE every doc_id ≡ 0 (mod 3); the
    surviving doc_frequency table must equal an index built over only the
    retained documents (the lifecycle capability the reference lacks)."""
    corpus = read_documents(spark, sf_dir)
    full = build_index(corpus)
    victims = corpus.where(F.col("doc_id") % 3 == 0).select("doc_id")
    pruned = delete_documents(full, victims)
    return pruned.term_doc_freq.select("term", "corpus_name", "doc_frequency")


INDEX_DELETE_SQL = f"""
WITH t AS (
  SELECT doc_id, {_oracle_tokens()} AS toks
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
    AND doc_id % 3 <> 0),
per_doc AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
SELECT term, 'whole_corpus' AS corpus_name,
       CAST(COUNT(*) AS INTEGER) AS doc_frequency
FROM per_doc
GROUP BY term
"""


# --------------------------------------------------------------------------
# Reciprocal-rank fusion
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


# reciprocal-rank fusion (``search_rrf_fusion``): BM25 and TF-IDF
# top-20 lists fused by RRF(60) (Cormack et al., SIGIR'09) — the
# standard hybrid-retrieval combiner. Ranks are assigned over
# 6-dp-rounded scores so rank order is engine-stable; the fusion
# arithmetic is then pure integer-rank math.
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
           {_BM25_SQL}), 6) AS score
  FROM tf
  JOIN q USING (term)
  JOIN vocab v USING (term, corpus_name)
  JOIN doc_info di USING (doc_id, doc_title)
  CROSS JOIN corpus_info ci
  GROUP BY tf.doc_id, tf.doc_title
),
tfidf_scored AS (
  SELECT tf.doc_id, tf.doc_title,
         round(sum({_tfidf_sql()}), 6) AS score
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
# Positional phrase search
# --------------------------------------------------------------------------

#: Fixture-calibrated phrase: ~48 occurrences across ~46 docs at sf0.01 —
#: frequent enough to exercise multi-hit docs, rare enough to rank.
_PHRASE = ("table", "hash")


# positional phrase search (``search_phrase_match``): exact-phrase
# retrieval via a positional posting join (term1@p ⋈ term2@p+1) — the
# index shape the reference's TF-only schema cannot answer
# (``app/cassandra/schema.cql`` stores no positions; SURVEY.md §2.8).
# Both posting lists are filtered to the two phrase terms BEFORE the
# join, so the join input is two term-posting lists, not the corpus.
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
               {_oracle_tokens()} AS a
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
# Search-surface extensions: negation and prefix expansion
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
         {_BM25_SQL} AS bm25
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


# --------------------------------------------------------------------------
# Search snippets
# --------------------------------------------------------------------------

_SNIP_CTX = 3  # tokens of context on each side


# search snippets (``search_snippets``): the result-rendering step a
# search engine runs after ranking — a ±3-token context window around
# the first query-term occurrence in each top-10 BM25 document. The
# reference prints raw doc titles only (``app/query.py:140``); snippets
# complete the retrieval UX. Everything is JVM array functions over the
# SAME tokenizer the index uses, so the snippet is consistent with what
# was matched; cost at 100 TB is re-tokenizing exactly k=10 documents
# (semi-joined to the top-k ids), not the corpus.
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
         {_BM25_SQL} AS bm25
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
         {_oracle_tokens("d.text")} AS toks
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
# "Did you mean" — SymSpell-style deletion-neighborhood spell suggestion
# --------------------------------------------------------------------------

#: out-of-vocabulary query terms, each edit-distance 1 from corpus vocab
_TYPO_QUERIES = ["tabl", "strem", "qury", "filtr", "windw"]

#: term plus every single-character deletion of it (SymSpell's index
#: unit); array_union already deduplicates ("aab" -> one "ab")
_DELETES_SQL = (
    "array_union(array({c}), "
    "transform(sequence(1, length({c})), "
    "i -> concat(substring({c}, 1, i - 1), "
    "substring({c}, i + 1, length({c})))))"
)


def _staged_spell_vocab(spark: SparkSession, sf_dir: str) -> str:
    """(variant, term, df) SymSpell index parquet per fixture: the
    vocabulary with its deletion neighborhood PRE-EXPLODED — this is an
    INDEX TABLE, built once with the corpus exactly like the BM25
    materialized index (``operators/index.py:materialize_index``) and
    amortized across every suggestion query, which then costs only the
    L+1 variant probes of its own query terms; fingerprint-gated like
    all derived copies."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        (
            tokens_of(docs)
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .select(
                "term", "df",
                F.explode(
                    F.expr(_DELETES_SQL.format(c="term"))
                ).alias("variant"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    return staged(sf_dir, "spellvocab", build)


def search_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 "did you mean" suggestions per out-of-vocabulary query term:
    vocabulary terms at Levenshtein distance 1, ranked by document
    frequency — the retrieval-UX feature the reference's exact-match
    Cassandra lookup cannot express (an OOV term there just returns
    nothing, ``app/query.py:38``).

    Candidate generation is the SymSpell deletion trick (Garbe, public
    symspell algorithm): block on the set {term} ∪ deletes1(term) built
    for BOTH sides. Completeness for ED ≤ 1 is exact, not heuristic —
    a substitution shares the both-sides-deleted variant, an
    insert/delete shares the shorter string itself — so the equi-join
    probes only deletion-neighborhood collisions (~(L+1) variants per
    term, linear in vocab) instead of the |vocab| × |queries|
    levenshtein cross the DuckDB oracle runs; the gate proves the
    blocked form loses nothing, same discipline as
    ``events_band_join_grid``. At 100 TB the variant index is built once
    with the vocabulary and served like any posting list; per-query cost
    is L+1 point lookups."""
    from pyspark.sql import Window

    vexp = spark.read.parquet(_staged_spell_vocab(spark, sf_dir))
    qdf = spark.createDataFrame(
        [(q,) for q in _TYPO_QUERIES], "query_term string"
    )
    qexp = qdf.select(
        "query_term",
        F.explode(
            F.expr(_DELETES_SQL.format(c="query_term"))
        ).alias("variant"),
    )
    cands = (
        qexp.join(vexp, "variant").select("query_term", "term", "df")
        .distinct()
    )
    scored = cands.where(
        (F.levenshtein("query_term", "term") <= 1)
        & (F.col("term") != F.col("query_term"))
    )
    w = Window.partitionBy("query_term").orderBy(
        F.desc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "query_term", "rank", F.col("term").alias("suggestion"), "df"
        )
        .orderBy("query_term", "rank")
    )


SPELL_SUGGEST_SQL = f"""
WITH q(query_term) AS (
  VALUES ('tabl'), ('strem'), ('qury'), ('filtr'), ('windw')),
tok AS (
  SELECT doc_id, unnest({_oracle_tokens()})
           AS term
  FROM documents),
vocab AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
scored AS (
  SELECT q.query_term, v.term AS suggestion, v.df,
         CAST(ROW_NUMBER() OVER (PARTITION BY q.query_term
                                 ORDER BY v.df DESC, v.term ASC)
              AS INTEGER) AS rank
  FROM q JOIN vocab v
    ON levenshtein(q.query_term, v.term) <= 1 AND v.term <> q.query_term)
SELECT query_term, rank, suggestion, df
FROM scored WHERE rank <= 3 ORDER BY query_term, rank
"""


# --------------------------------------------------------------------------
# "Did you mean", edit distance 2 — SymSpell deletes-2 blocking
# --------------------------------------------------------------------------

#: out-of-vocabulary query terms, each edit-distance 2 from a common
#: corpus term (table, stream, query, filter, window)
_TYPO2_QUERIES = ["tbl", "strm", "qry", "fltr", "wndw"]

#: {c} ∪ deletes1(c) ∪ deletes2(c): apply the single-deletion expansion
#: to every member of the distance-1 set and dedupe — Garbe's deletes-2
#: index unit, which extends SymSpell's completeness guarantee to ED <= 2
_DELETES2_SQL = (
    "array_distinct(flatten(transform("
    + _DELETES_SQL
    + ", s -> "
    + _DELETES_SQL.format(c="s")
    + ")))"
)


def _staged_spell_vocab2(spark: SparkSession, sf_dir: str) -> str:
    """(term, df, variant) SymSpell deletes-2 index parquet per fixture —
    same build-once-with-the-corpus discipline as the distance-1 index
    (``_staged_spell_vocab``); ~1 + L + C(L,2) variants
    per vocabulary term, the classic SymSpell space-for-probes trade."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        (
            tokens_of(docs)
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .select(
                "term", "df",
                F.explode(
                    F.expr(_DELETES2_SQL.format(c="term"))
                ).alias("variant"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    return staged(sf_dir, "spellvocab2", build)


def search_spell_suggest_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 "did you mean" suggestions per query term at Levenshtein
    distance <= 2, ranked by document frequency then term.

    Candidate generation extends search_spell_suggest's SymSpell blocking to edit
    distance 2 with Garbe's deletes-2 sets: if ED(a, b) <= 2 then the
    <=2-deletion neighborhoods of a and b intersect (every substitution /
    transposition / indel combination reduces to deleting at most two
    characters from each side), so the equi-join on the variant key is
    COMPLETE for ED <= 2 — the oracle proves it against the naive
    |vocab| x |queries| levenshtein cross. A non-equi length guard
    (|len(term) - len(query)| <= 2, implied by ED <= 2) prunes the
    short-variant collisions that distance-2 deletion sets of short
    strings otherwise generate. Exact levenshtein verifies candidates;
    ranking is deterministic (df desc, term asc)."""
    from pyspark.sql import Window

    vexp = spark.read.parquet(_staged_spell_vocab2(spark, sf_dir))
    qdf = spark.createDataFrame(
        [(q,) for q in _TYPO2_QUERIES], "query_term string"
    )
    qexp = qdf.select(
        "query_term",
        F.explode(
            F.expr(_DELETES2_SQL.format(c="query_term"))
        ).alias("variant"),
    )
    cands = (
        qexp.join(
            vexp,
            (qexp.variant == vexp.variant)
            & (
                F.abs(F.length("term") - F.length("query_term")) <= 2
            ),
        )
        .select("query_term", "term", "df")
        .distinct()
    )
    scored = cands.where(
        (F.levenshtein("query_term", "term") <= 2)
        & (F.col("term") != F.col("query_term"))
    )
    w = Window.partitionBy("query_term").orderBy(
        F.desc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "query_term", "rank", F.col("term").alias("suggestion"), "df"
        )
        .orderBy("query_term", "rank")
    )


SPELL_SUGGEST_D2_SQL = f"""
WITH q(query_term) AS (
  VALUES ('tbl'), ('strm'), ('qry'), ('fltr'), ('wndw')),
tok AS (
  SELECT doc_id, unnest({_oracle_tokens()})
           AS term
  FROM documents),
vocab AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
scored AS (
  SELECT q.query_term, v.term AS suggestion, v.df,
         CAST(ROW_NUMBER() OVER (PARTITION BY q.query_term
                                 ORDER BY v.df DESC, v.term ASC)
              AS INTEGER) AS rank
  FROM q JOIN vocab v
    ON levenshtein(q.query_term, v.term) <= 2 AND v.term <> q.query_term)
SELECT query_term, rank, suggestion, df
FROM scored WHERE rank <= 3 ORDER BY query_term, rank
"""


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
    "index_incremental_accumulate": index_incremental_accumulate,
    "index_rebuild_idempotent": index_rebuild_idempotent,
    "index_delete_docs": index_delete_docs,
    "search_rrf_fusion": search_rrf_fusion,
    "search_phrase_match": search_phrase_match,
    "bm25_search_excluding": bm25_search_excluding,
    "bm25_prefix_search": bm25_prefix_search,
    "search_snippets": search_snippets,
    "search_spell_suggest": search_spell_suggest,
    "search_spell_suggest_d2": search_spell_suggest_d2,
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
    "index_incremental_accumulate": INDEX_DOC_FREQ_SQL,
    "index_rebuild_idempotent": INDEX_DOC_FREQ_SQL,
    "index_delete_docs": INDEX_DELETE_SQL,
    "search_rrf_fusion": _rrf_oracle(FLAGSHIP_QUERY),
    "search_phrase_match": PHRASE_MATCH_SQL,
    "bm25_search_excluding": _excl_oracle(),
    "bm25_prefix_search": _prefix_oracle(),
    "search_snippets": _snippets_oracle(FLAGSHIP_QUERY),
    "search_spell_suggest": SPELL_SUGGEST_SQL,
    "search_spell_suggest_d2": SPELL_SUGGEST_D2_SQL,
}
