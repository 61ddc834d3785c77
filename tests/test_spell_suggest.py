"""SymSpell deletion-blocking spell suggestion: completeness vs the
naive levenshtein cross join, expected suggestions, and the probe-count
reduction that justifies the blocking."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.functions.text import tokens_of
from big_data_assignment2_2025_spark.plans.search_queries import (
    _DELETES_SQL,
    _TYPO_QUERIES,
    search_spell_suggest,
)
from big_data_assignment2_2025_spark.sources.readers import load_table


def test_expected_suggestions_lead(spark, sf_dir):
    rows = search_spell_suggest(spark, sf_dir).collect()
    top = {r.query_term: r.suggestion for r in rows if r.rank == 1}
    assert top == {
        "tabl": "table",
        "strem": "stream",
        "qury": "query",
        "filtr": "filter",
        "windw": "window",
    }
    assert all(r.df > 0 for r in rows)


def test_blocked_equals_naive_cross(spark, sf_dir):
    """Deletion-neighborhood blocking is COMPLETE for ED <= 1: the naive
    |vocab| x |queries| levenshtein cross finds exactly the same
    (query, suggestion) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = tokens_of(docs).groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    qdf = spark.createDataFrame(
        [(q,) for q in _TYPO_QUERIES], "query_term string"
    )
    naive = (
        qdf.crossJoin(vocab)
        .where(
            (F.levenshtein("query_term", "term") <= 1)
            & (F.col("term") != F.col("query_term"))
        )
        .select("query_term", "term")
    )
    blocked = search_spell_suggest(spark, sf_dir).select(
        "query_term", F.col("suggestion").alias("term")
    )
    naive_set = {(r.query_term, r.term) for r in naive.collect()}
    blocked_set = {(r.query_term, r.term) for r in blocked.collect()}
    # the query applies a top-3 cut; at this vocab nothing reaches it,
    # so the sets must be identical — if the fixture ever grows a >3
    # neighborhood, blocked must still be a subset of naive
    assert blocked_set <= naive_set
    per_q_naive = {}
    for q, t in naive_set:
        per_q_naive.setdefault(q, set()).add(t)
    for q, terms in per_q_naive.items():
        got = {t for qq, t in blocked_set if qq == q}
        assert got == terms or (len(terms) > 3 and len(got) == 3)


def test_blocking_probes_fewer_pairs_than_cross(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    vocab = tokens_of(docs).groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_vocab = vocab.count()
    vexp = vocab.select(
        F.explode(F.expr(_DELETES_SQL.format(c="term"))).alias("variant")
    )
    qdf = spark.createDataFrame(
        [(q,) for q in _TYPO_QUERIES], "query_term string"
    )
    qexp = qdf.select(
        "query_term",
        F.explode(
            F.expr(_DELETES_SQL.format(c="query_term"))
        ).alias("variant"),
    )
    probes = qexp.join(vexp, "variant").count()
    assert probes < n_vocab * len(_TYPO_QUERIES) / 10


def test_deletion_variants_shape(spark):
    df = spark.createDataFrame([("abc",)], "t string").select(
        F.expr(_DELETES_SQL.format(c="t")).alias("v")
    )
    assert sorted(df.collect()[0].v) == ["ab", "abc", "ac", "bc"]
