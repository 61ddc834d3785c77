"""SymSpell deletes-2 blocking (plans/search_queries.py): completeness vs
the naive levenshtein<=2 cross join, and the probe-count reduction that
justifies indexing the two-deletion neighborhood."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.functions.text import tokens_of
from big_data_assignment2_2025_spark.plans.search_queries import (
    _DELETES2_SQL,
    _TYPO2_QUERIES,
    search_spell_suggest_d2,
)
from big_data_assignment2_2025_spark.sources.readers import load_table


def _vocab(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return tokens_of(docs).groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )


def test_blocked_equals_naive_cross_ed2(spark, sf_dir):
    """Deletes-2 blocking is COMPLETE for ED <= 2: every pair the naive
    |vocab| x |queries| levenshtein cross finds is found by the blocked
    plan (modulo the top-3 presentation cut)."""
    qdf = spark.createDataFrame(
        [(q,) for q in _TYPO2_QUERIES], "query_term string"
    )
    naive = (
        qdf.crossJoin(_vocab(spark, sf_dir))
        .where(
            (F.levenshtein("query_term", "term") <= 2)
            & (F.col("term") != F.col("query_term"))
        )
        .select("query_term", "term", "df")
    )
    blocked = search_spell_suggest_d2(spark, sf_dir)
    blocked_set = {
        (r.query_term, r.suggestion) for r in blocked.collect()
    }
    naive_rows = naive.collect()
    naive_set = {(r.query_term, r.term) for r in naive_rows}
    assert blocked_set <= naive_set
    # reproduce the top-3 (df desc, term asc) cut on the naive side and
    # demand exact agreement — this is the completeness check
    per_q = {}
    for r in naive_rows:
        per_q.setdefault(r.query_term, []).append((-r.df, r.term))
    expect = set()
    for q, lst in per_q.items():
        for _, t in sorted(lst)[:3]:
            expect.add((q, t))
    assert blocked_set == expect


def test_expected_correction_is_suggested(spark, sf_dir):
    """Each planted double-typo's intended word is within its ED<=2
    suggestion set (it may not be rank 1 — short typos sit near several
    high-df terms, and df ranks them)."""
    rows = search_spell_suggest_d2(spark, sf_dir).collect()
    intended = {
        "tbl": "table",
        "strm": "stream",
        "qry": "query",
        "fltr": "filter",
        "wndw": "window",
    }
    qdf = spark.createDataFrame(
        [(q,) for q in _TYPO2_QUERIES], "query_term string"
    )
    naive3 = {
        (r.query_term, r.term)
        for r in qdf.crossJoin(_vocab(spark, sf_dir))
        .where(F.levenshtein("query_term", "term") <= 2)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_term").orderBy(
                    F.desc("df"), F.asc("term")
                )
            ),
        )
        .where(F.col("rank") <= 3)
        .collect()
    }
    got = {(r.query_term, r.suggestion) for r in rows}
    for q, word in intended.items():
        # the intended word is a valid ED<=2 match wherever the fixture
        # vocabulary contains it; if it made the naive top-3 it must be
        # in the blocked result too
        if (q, word) in naive3:
            assert (q, word) in got, (q, word)


def test_deletes2_blocking_probes_fewer_pairs_than_cross(spark, sf_dir):
    vocab = _vocab(spark, sf_dir)
    n_vocab = vocab.count()
    vexp = vocab.select(
        "term",
        F.explode(F.expr(_DELETES2_SQL.format(c="term"))).alias("variant"),
    )
    qdf = spark.createDataFrame(
        [(q,) for q in _TYPO2_QUERIES], "query_term string"
    )
    qexp = qdf.select(
        "query_term",
        F.explode(
            F.expr(_DELETES2_SQL.format(c="query_term"))
        ).alias("variant"),
    )
    probes = (
        qexp.join(
            vexp,
            (qexp.variant == vexp.variant)
            & (F.abs(F.length("term") - F.length("query_term")) <= 2),
        )
        .count()
    )
    assert probes < n_vocab * len(_TYPO2_QUERIES) / 10


def test_deletes2_variants_shape(spark):
    df = spark.createDataFrame([("abcd",)], "t string").select(
        F.expr(_DELETES2_SQL.format(c="t")).alias("v")
    )
    got = sorted(df.collect()[0].v)
    assert got == sorted(
        {"abcd", "abc", "abd", "acd", "bcd",
         "ab", "ac", "ad", "bc", "bd", "cd"}
    )
