"""Index-builder unit tests vs brute-force Python dicts mirroring the
reference reducers (``reducer1.py:33-43``, ``reducer2.py:49-70``)."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from big_data_assignment2_2025_spark.operators.index import (
    build_index,
    incremental_reindex,
)

CORPUS = [
    (1, "doc one", "the quick brown fox jumps over the lazy dog"),
    (2, "doc two", "the quick blue hare sleeps"),
    (3, "doc three", "don't stop the music music music"),
    (4, "doc four", ""),            # blank text -> dropped (mapper1.py:7-8)
    (5, "doc five", "   "),         # whitespace only -> dropped
    (6, "doc six", "café CAFÉ Café"),  # unicode + case folding
]


def _brute_force(corpus):
    tf, dl = Counter(), Counter()
    df_sets = {}
    for doc_id, title, text in corpus:
        words = re.findall(r"[\w\']+", text.lower())
        if not text or not text.strip():
            continue
        for w in words:
            tf[(doc_id, title, w)] += 1
            dl[(doc_id, title)] += 1
            df_sets.setdefault(w, set()).add(doc_id)
    df = {w: len(s) for w, s in df_sets.items()}
    return tf, df, dl


@pytest.fixture(scope="module")
def index(spark):
    corpus = spark.createDataFrame(CORPUS, "doc_id long, doc_title string, text string")
    return build_index(corpus)


def test_term_frequency(index):
    got = {
        (r.doc_id, r.doc_title, r.term): r.term_frequency
        for r in index.term_freq.collect()
    }
    want, _, _ = _brute_force(CORPUS)
    assert got == dict(want)


def test_doc_frequency(index):
    got = {r.term: r.doc_frequency for r in index.term_doc_freq.collect()}
    _, want, _ = _brute_force(CORPUS)
    assert got == want


def test_doc_length_and_corpus(index):
    got = {(r.doc_id, r.doc_title): r.doc_length for r in index.doc_info.collect()}
    _, _, want = _brute_force(CORPUS)
    assert got == dict(want)
    ci = index.corpus_info.first()
    assert ci.doc_n == len(want)
    assert ci.total_doc_length == sum(want.values())
    assert ci.corpus_name == "whole_corpus"


def test_invariants(index):
    # sum(term_frequency) per doc == doc_length; 0 < df <= doc_n  (FIXTURES.md A2)
    tf_sum = {
        (r.doc_id, r.doc_title): r.s
        for r in index.term_freq.groupBy("doc_id", "doc_title")
        .sum("term_frequency")
        .withColumnRenamed("sum(term_frequency)", "s")
        .collect()
    }
    dl = {(r.doc_id, r.doc_title): r.doc_length for r in index.doc_info.collect()}
    assert tf_sum == dl
    doc_n = index.corpus_info.first().doc_n
    for r in index.term_doc_freq.collect():
        assert 0 < r.doc_frequency <= doc_n


def test_incremental_reindex_double_counts(spark, index):
    """Re-indexing the same corpus accumulates (reference upsert quirk,
    reducer1.py:18-24, reducer2.py:32-39)."""
    corpus = spark.createDataFrame(CORPUS, "doc_id long, doc_title string, text string")
    re2 = incremental_reindex(index, corpus)
    old_df = {r.term: r.doc_frequency for r in index.term_doc_freq.collect()}
    new_df = {r.term: r.doc_frequency for r in re2.term_doc_freq.collect()}
    assert new_df == {t: 2 * v for t, v in old_df.items()}
    old_ci, new_ci = index.corpus_info.first(), re2.corpus_info.first()
    assert new_ci.doc_n == 2 * old_ci.doc_n
    assert new_ci.total_doc_length == 2 * old_ci.total_doc_length
    old_tf = {
        (r.term, r.doc_id): r.term_frequency for r in index.term_freq.collect()
    }
    new_tf = {(r.term, r.doc_id): r.term_frequency for r in re2.term_freq.collect()}
    assert new_tf == {k: 2 * v for k, v in old_tf.items()}


# ---------------------------------------------------------------------------
# Index lifecycle (round 8): deletion + idempotent re-index — capabilities
# the reference store lacks entirely (reducer1.py:18-24 can only accumulate)


def _index_tables(idx):
    """Collect the four tables into comparable plain-Python structures."""
    tf = {
        (r.doc_id, r.doc_title, r.term): r.term_frequency
        for r in idx.term_freq.collect()
    }
    df = {r.term: r.doc_frequency for r in idx.term_doc_freq.collect()}
    dl = {(r.doc_id, r.doc_title): r.doc_length for r in idx.doc_info.collect()}
    ci = [(r.doc_n, r.total_doc_length) for r in idx.corpus_info.collect()]
    return tf, df, dl, ci


def test_delete_documents_equals_build_on_remaining(spark):
    from pyspark.sql import functions as F

    from big_data_assignment2_2025_spark.operators.index import delete_documents

    corpus = spark.createDataFrame(
        CORPUS, "doc_id long, doc_title string, text string"
    )
    full = build_index(corpus)
    victims = corpus.where(F.col("doc_id").isin(1, 3)).select("doc_id")
    pruned = delete_documents(full, victims)
    fresh = build_index(corpus.where(~F.col("doc_id").isin(1, 3)))
    assert _index_tables(pruned) == _index_tables(fresh)


def test_delete_all_documents_yields_empty_index(spark):
    from big_data_assignment2_2025_spark.operators.index import delete_documents

    corpus = spark.createDataFrame(
        CORPUS, "doc_id long, doc_title string, text string"
    )
    full = build_index(corpus)
    pruned = delete_documents(full, corpus.select("doc_id"))
    assert pruned.term_freq.count() == 0
    assert pruned.term_doc_freq.count() == 0
    assert pruned.doc_info.count() == 0
    ci = pruned.corpus_info.collect()
    assert [(r.doc_n, r.total_doc_length) for r in ci] == [(0, 0)]


def test_idempotent_reindex_converges_to_fresh_build(spark):
    from big_data_assignment2_2025_spark.operators.index import idempotent_reindex

    corpus = spark.createDataFrame(
        CORPUS, "doc_id long, doc_title string, text string"
    )
    fresh = build_index(corpus)
    # accumulate the same corpus with the quirky path first (double-counts),
    # then one --rebuild pass must repair the store back to the fresh build
    quirky = incremental_reindex(build_index(corpus), corpus)
    rebuilt = idempotent_reindex(quirky, corpus)
    assert _index_tables(rebuilt) == _index_tables(fresh)
    # and a second rebuild is a no-op (idempotence proper)
    rebuilt2 = idempotent_reindex(rebuilt, corpus)
    assert _index_tables(rebuilt2) == _index_tables(fresh)


def test_idempotent_reindex_partial_delta(spark):
    from pyspark.sql import functions as F

    from big_data_assignment2_2025_spark.operators.index import idempotent_reindex

    corpus = spark.createDataFrame(
        CORPUS, "doc_id long, doc_title string, text string"
    )
    evens = corpus.where(F.col("doc_id") % 2 == 0)
    odds = corpus.where(F.col("doc_id") % 2 == 1)
    # store already contains everything; re-index only the odd docs
    # idempotently -> still the fresh full build (no double-count of odds)
    full = build_index(corpus)
    rebuilt = idempotent_reindex(full, odds)
    assert _index_tables(rebuilt) == _index_tables(
        build_index(evens.unionByName(odds))
    )


def test_idempotent_reindex_deletes_emptied_document(spark):
    from pyspark.sql import functions as F

    from big_data_assignment2_2025_spark.operators.index import idempotent_reindex

    corpus = spark.createDataFrame(
        CORPUS, "doc_id long, doc_title string, text string"
    )
    full = build_index(corpus)
    # doc 1's text becomes blank in the updated corpus: a rebuild must
    # REMOVE it (a fresh build over the update wouldn't index it)
    updated = corpus.withColumn(
        "text", F.when(F.col("doc_id") == 1, F.lit("")).otherwise(F.col("text"))
    )
    rebuilt = idempotent_reindex(full, updated)
    fresh = build_index(corpus.where(F.col("doc_id") != 1))
    assert _index_tables(rebuilt) == _index_tables(fresh)


def test_empty_corpus_builds_zero_corpus_info(spark):
    """An empty index reads the same on every path: a fresh build over no
    documents gives the ``(0, 0)`` that delete-all and a rebuild down to
    nothing give, not a NULL total length."""
    empty = spark.createDataFrame([], "doc_id long, doc_title string, text string")
    ci = build_index(empty).corpus_info.collect()
    assert [tuple(r) for r in ci] == [("whole_corpus", 0, 0)]


def test_rebuild_does_not_aggregate_the_store(spark, tmp_path):
    """``idempotent_reindex`` passes the stored postings through an
    anti-join: its ``term_freq`` plan scans the store's parquet and holds no
    aggregation (the delta's own build was computed by ``build_index``)."""
    from big_data_assignment2_2025_spark.operators.index import (
        idempotent_reindex,
        load_materialized_index,
        materialize_index,
    )

    corpus = spark.createDataFrame(CORPUS, "doc_id long, doc_title string, text string")
    materialize_index(build_index(corpus), str(tmp_path / "store"))
    store = load_materialized_index(spark, str(tmp_path / "store"))
    delta = spark.createDataFrame(
        [(2, "doc two", "the slow blue hare wakes"), (7, "doc seven", "new words here")],
        "doc_id long, doc_title string, text string",
    )

    rebuilt = idempotent_reindex(store, delta).term_freq
    assert any(f"{tmp_path / 'store' / 'term_freq'}/" in f for f in rebuilt.inputFiles())
    assert "HashAggregate" not in rebuilt._jdf.queryExecution().executedPlan().toString()
