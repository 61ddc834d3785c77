"""Ranked retrieval — the reference query path as ONE lazy Spark plan, and
the one module that knows how a ranked result is formed.

Semantics replicated exactly from reference ``app/query.py``:
- query parsing: whitespace split, lowercase, dedup (``query.py:12,21``)
- BM25 with k1=1, b=0.75 and the *simplified* IDF ``ln(N/df)`` — NOT
  Robertson's ``ln((N-df+0.5)/(df+0.5)+1)`` (``query.py:131-135``)
- per-document score = sum of per-term BM25 (``query.py:139-140``)
- top-10 by score descending (``query.py:143``)
- empty vocabulary -> empty result with schema
  (doc_id int, doc_title string, doc_rank double) (``query.py:38-54``)

One ranking path: every ranked query in the package is
``top_k(doc_scores(bm25_scores | tfidf_scores (index, term_pred)))``. The
scorers filter ``postings`` by corpus and a term predicate (``isin``,
``startswith``, ...) and weight each (term, doc) row; ``doc_scores`` sums
per document; ``top_k`` owns the order, the limit and the output schema.

Tie order: equal ``doc_rank`` sorts by ``doc_id`` ascending, so every ranked
result is deterministic (the reference's order among ties is unspecified).

What is deliberately NOT replicated (performance anti-patterns, SURVEY.md §4):
the reference's 4 eager driver round-trips (``query.py:38,58,76,123``) and the
N+1 per-term/per-doc Cassandra scans (``query.py:64-73,90-97``). Here the
whole query is one declarative plan -> one action:

  term_freq.where(corpus, term pred)      -- parquet-pushed filter
    JOIN broadcast(term_doc_freq filtered) -- tiny: <= #query terms rows
    JOIN doc_info                          -- inner join doubles as the
                                              manual semi-join at query.py:61-97
    CROSS JOIN broadcast(corpus_info)      -- the lit(N)/lit(avgdl) scalars
    -> score column expr -> groupBy(doc) sum -> TakeOrderedAndProject(k)

Scale notes: the only shuffle is the final groupBy on (doc_id, doc_title),
over rows already restricted to query terms; both dimension joins broadcast.
Catalyst plans the top-k as TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .index import WHOLE_CORPUS, InvertedIndex

K1 = 1.0   # reference app/query.py:131
B = 0.75   # reference app/query.py:132


def parse_query(query: str) -> list[str]:
    """Whitespace split, lowercase, dedup (reference ``app/query.py:12,21``).
    Sorted for deterministic plans (set order is arbitrary in CPython)."""
    return sorted({w.lower() for w in query.split()})


def _idf(df: Column, doc_n: Column) -> Column:
    """The reference's simplified IDF ``ln(N/df)`` (``app/query.py:131-135``)."""
    return F.log(doc_n.cast("double") / df.cast("double"))


def bm25_expr(tf: Column, df: Column, dl: Column, doc_n: Column, total_len: Column) -> Column:
    """The exact score expression of reference ``app/query.py:135``."""
    avgdl = total_len.cast("double") / doc_n.cast("double")
    idf = _idf(df, doc_n)
    tf_d = tf.cast("double")
    return idf * ((K1 + 1.0) * tf_d) / (K1 * (1.0 - B + B * dl.cast("double") / avgdl) + tf_d)


def tfidf_expr(tf: Column, df: Column, doc_n: Column) -> Column:
    """TF-IDF weight ``tf * ln(N/df)`` with the reference's simplified IDF."""
    return tf.cast("double") * _idf(df, doc_n)


def _matching(table: DataFrame, term_pred: Column, corpus_name: str) -> DataFrame:
    return table.where((F.col("corpus_name") == corpus_name) & term_pred)


def postings(index: InvertedIndex, term_pred: Column, corpus_name: str = WHOLE_CORPUS) -> DataFrame:
    """``term_freq`` rows of ``corpus_name`` whose term matches ``term_pred``
    (``F.col("term").isin(...)``, ``startswith``, ...); both predicates
    push down to a materialized index's parquet scan."""
    return _matching(index.term_freq, term_pred, corpus_name)


def _weighted(index: InvertedIndex, term_pred: Column, corpus_name: str) -> DataFrame:
    """Postings joined to their term's doc_frequency (broadcast: at most one
    row per matching term)."""
    vocab = _matching(index.term_doc_freq, term_pred, corpus_name)
    return postings(index, term_pred, corpus_name).join(
        F.broadcast(vocab), ["term", "corpus_name"], "inner"
    )


def _stats(index: InvertedIndex, corpus_name: str) -> DataFrame:
    stats = index.corpus_info.where(F.col("corpus_name") == corpus_name)
    return F.broadcast(stats.select("doc_n", "total_doc_length"))


def bm25_scores(index: InvertedIndex, term_pred: Column, corpus_name: str = WHOLE_CORPUS) -> DataFrame:
    """Per-(term, doc) BM25 rows, weight in ``score``, for the terms matching
    ``term_pred``."""
    return (
        _weighted(index, term_pred, corpus_name)
        .join(index.doc_info, ["doc_id", "doc_title"], "inner")
        .crossJoin(_stats(index, corpus_name))
        .withColumn(
            "score",
            bm25_expr(
                F.col("term_frequency"),
                F.col("doc_frequency"),
                F.col("doc_length"),
                F.col("doc_n"),
                F.col("total_doc_length"),
            ),
        )
    )


def tfidf_scores(index: InvertedIndex, term_pred: Column, corpus_name: str = WHOLE_CORPUS) -> DataFrame:
    """Per-(term, doc) TF-IDF rows, weight in ``score``. No length
    normalization, so no doc_info join."""
    return (
        _weighted(index, term_pred, corpus_name)
        .crossJoin(_stats(index, corpus_name))
        .withColumn(
            "score",
            tfidf_expr(F.col("term_frequency"), F.col("doc_frequency"), F.col("doc_n")),
        )
    )


def doc_scores(scored: DataFrame, *aggs: Column) -> DataFrame:
    """Sum of the per-term ``score`` per document, as ``doc_rank``; ``aggs``
    ride along in the same aggregate (e.g. a distinct-term count)."""
    return scored.groupBy("doc_id", "doc_title").agg(
        F.sum("score").alias("doc_rank"), *aggs
    )


def top_k(docs: DataFrame, k: int = 10) -> DataFrame:
    """The ranked result: the ``k`` best documents by ``doc_rank`` desc, ties
    by ``doc_id`` asc, as ``(doc_id int, doc_title string, doc_rank
    double)`` (reference ``app/query.py:40-44,143``). Catalyst plans it as
    one TakeOrderedAndProject: per-partition heaps, no global sort."""
    return (
        docs.orderBy(F.col("doc_rank").desc(), F.col("doc_id").asc())
        .limit(k)
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            F.col("doc_rank").cast("double").alias("doc_rank"),
        )
    )


def bm25_search(
    index: InvertedIndex,
    query: str,
    k: int = 10,
    corpus_name: str = WHOLE_CORPUS,
) -> DataFrame:
    """Top-k documents for a free-text query, in the ``top_k`` schema and
    order. An empty vocabulary yields an empty frame with that schema, with
    no eager probe (vs the ``head(1)`` at ``query.py:38``)."""
    term_pred = F.col("term").isin(parse_query(query))
    return top_k(doc_scores(bm25_scores(index, term_pred, corpus_name)), k)
