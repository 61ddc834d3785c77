"""Golden BM25 tests: independent pure-Python scorer (same simplified IDF,
k1=1, b=0.75 — reference ``app/query.py:131-135``) over a handwritten corpus.
Covers the edge cases the reference encodes (SURVEY.md §5.2)."""

from __future__ import annotations

import itertools
import math
import re
from collections import Counter
from dataclasses import replace

import pytest

from big_data_assignment2_2025_spark.operators.index import build_index
from big_data_assignment2_2025_spark.operators.search import bm25_search, parse_query

CORPUS = [
    (1, "t1", "football game tonight"),
    (2, "t2", "football football football practice"),
    (3, "t3", "chess game of the year"),
    (4, "t4", "the weather report"),
    (5, "t5", "game game game game game long document with many extra words here"),
    (6, "t6", "football"),
]

K1, B = 1.0, 0.75


def _python_bm25(corpus, query):
    """Line-for-line independent reimplementation of app/query.py:131-140."""
    docs = [(d, t, re.findall(r"[\w\']+", x.lower())) for d, t, x in corpus if x.strip()]
    n = len(docs)
    total_len = sum(len(w) for _, _, w in docs)
    avgdl = total_len / n
    terms = sorted({w.lower() for w in query.split()})
    df = Counter()
    for _, _, words in docs:
        for t in set(words):
            df[t] += 1
    scores = {}
    for doc_id, title, words in docs:
        tf = Counter(words)
        s = 0.0
        hit = False
        for t in terms:
            if tf[t] > 0 and df[t] > 0:
                hit = True
                idf = math.log(n / df[t])
                s += idf * ((K1 + 1) * tf[t]) / (K1 * (1 - B + B * len(words) / avgdl) + tf[t])
        if hit:
            scores[(doc_id, title)] = s
    return scores


@pytest.fixture(scope="module")
def index(spark):
    corpus = spark.createDataFrame(CORPUS, "doc_id long, doc_title string, text string")
    return build_index(corpus)


def _run(index, q, k=10):
    return bm25_search(index, q, k=k).collect()


def test_single_term_scores(index):
    got = {(r.doc_id, r.doc_title): r.doc_rank for r in _run(index, "football")}
    want = _python_bm25(CORPUS, "football")
    assert set(got) == set(want)
    for key, val in want.items():
        assert got[key] == pytest.approx(val, abs=1e-9)


def test_multi_term_sum(index):
    got = {(r.doc_id, r.doc_title): r.doc_rank for r in _run(index, "football game")}
    want = _python_bm25(CORPUS, "football game")
    assert set(got) == set(want)
    for key, val in want.items():
        assert got[key] == pytest.approx(val, abs=1e-9)


def test_ordering_and_k(index):
    rows = _run(index, "football game", k=3)
    assert len(rows) == 3
    ranks = [r.doc_rank for r in rows]
    assert ranks == sorted(ranks, reverse=True)


def test_term_in_every_doc_has_zero_idf(spark):
    corpus = [(i, f"t{i}", f"common word{i}") for i in range(1, 4)]
    idx = build_index(spark.createDataFrame(corpus, "doc_id long, doc_title string, text string"))
    rows = bm25_search(idx, "common").collect()
    # idf = ln(3/3) = 0 -> every score exactly 0.0, all docs still returned
    assert len(rows) == 3
    assert all(r.doc_rank == 0.0 for r in rows)


def test_ties_break_by_doc_id_ascending(spark):
    # 12 identical documents score the same; the top 10 are ids 1-10 in order
    corpus = [(i, f"t{i}", "alpha beta") for i in range(12, 0, -1)]
    corpus.append((13, "t13", "gamma"))  # keeps idf(alpha) = ln(13/12) > 0
    idx = build_index(spark.createDataFrame(corpus, "doc_id long, doc_title string, text string"))
    rows = bm25_search(idx, "alpha", k=10).collect()
    assert [r.doc_id for r in rows] == list(range(1, 11))
    assert len({r.doc_rank for r in rows}) == 1 and rows[0].doc_rank > 0


def test_unknown_term_empty_result_with_schema(index):
    df = bm25_search(index, "zzzmissing")
    rows = df.collect()
    assert rows == []
    assert [f.name for f in df.schema.fields] == ["doc_id", "doc_title", "doc_rank"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int",
        "string",
        "double",
    ]


def test_query_parse_matches_reference():
    # whitespace split + lower + dedup (app/query.py:12,21)
    assert parse_query("Football GAME football") == ["football", "game"]
    assert parse_query("") == []


def test_case_insensitive_query(index):
    a = {(r.doc_id): r.doc_rank for r in _run(index, "FOOTBALL")}
    b = {(r.doc_id): r.doc_rank for r in _run(index, "football")}
    assert a == b


def test_materialized_search_follows_fixture_rewrite(spark, tmp_path):
    """The materialized BM25 index is staged per fixture fingerprint: a
    documents table rewritten IN PLACE must be re-indexed, not served
    from the index built over the old text."""
    _follows_fixture_rewrite(spark, tmp_path, "bm25_search_materialized")


def test_adhoc_search_follows_fixture_rewrite(spark, tmp_path):
    """The ad-hoc search indexes the documents per call: after an in-place
    rewrite it must not be answered from the previous call's index."""
    _follows_fixture_rewrite(spark, tmp_path, "bm25_search")


def _follows_fixture_rewrite(spark, tmp_path, name):
    """Run registry query ``name`` on a copy of the small fixture, rotate
    every document's text onto the next doc_id in place, run it again;
    both answers must match DuckDB over the file as it is then."""
    import os
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_assignment2_2025_spark.plans import ORACLES, QUERIES
    from big_data_assignment2_2025_spark.sources.readers import scratch_dir
    from tests.conftest import SF_SMALL

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    docs_path = os.path.join(sf, "documents.parquet")
    os.chmod(docs_path, 0o644)

    def check():
        got = QUERIES[name](spark, sf).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{docs_path}')"
        )
        want = con.execute(ORACLES[name]).fetchall()
        assert [tuple(r)[:2] for r in got] == [r[:2] for r in want]
        assert [r[2] for r in got] == pytest.approx(
            [r[2] for r in want], abs=1e-5
        )
        return got

    try:
        before = check()
        # rotate every document's text onto the next doc_id
        t = pq.read_table(docs_path)
        text = t.column("text").to_pylist()
        t = t.set_column(
            t.schema.get_field_index("text"), "text",
            pa.array(text[1:] + text[:1], pa.string()),
        )
        pq.write_table(t, docs_path)
        after = check()
        assert after != before
    finally:
        shutil.rmtree(scratch_dir(sf, "bm25_index"), ignore_errors=True)


def test_tfidf_doc_similarity_matches_oracle_on_rare_terms(spark, tmp_path):
    """The shipped fixtures draw from a 31-word vocabulary in which every
    word is in more than 20 documents, so ``tfidf_doc_similarity``'s rare-term
    subspace is empty there and its oracle gate compares two empty results.
    Over 200 documents drawn Zipf-like from 155 words the tail words are
    rare, and the query must return pairs that hash-match its DuckDB oracle."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_assignment2_2025_spark.plans.search_queries import (
        TFIDF_DOC_SIM_SQL,
        q_tfidf_doc_similarity,
    )
    from tools.oracle_check import _hash_rows

    rng = random.Random(7)
    words = [f"w{i}" for i in range(155)]
    weights = [1.0 / (i + 1) for i in range(len(words))]
    texts = [" ".join(rng.choices(words, weights, k=rng.randint(5, 25))) for _ in range(200)]
    docs = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(200), pa.int64()), "text": texts}), docs)

    got = q_tfidf_doc_similarity(spark, str(tmp_path))
    rows = [tuple(r) for r in got.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    want = con.execute(TFIDF_DOC_SIM_SQL).arrow()
    want_cols = want.schema.names
    want_rows = [tuple(d[c] for c in want_cols) for d in want.to_pylist()]
    assert rows
    assert sorted(got.columns) == sorted(want_cols)
    assert len(rows) == len(want_rows)
    assert _hash_rows(got.columns, rows) == _hash_rows(want_cols, want_rows)


APOSTROPHE_CORPUS = [
    (1, "a1", "I don't know why we don't stop"),
    (2, "a2", "do not stop now"),
    (3, "a3", "Don't Panic"),
    (4, "a4", "the weather report today"),
    (5, "a5", "stop the game, don't stop"),
]


TOP_K_SCHEMA = "struct<doc_id:int,doc_title:string,doc_rank:double>"


@pytest.fixture(scope="module")
def apostrophe_index(spark):
    return build_index(
        spark.createDataFrame(APOSTROPHE_CORPUS, "doc_id long, doc_title string, text string")
    )


@pytest.mark.parametrize(
    "query", ["don't", "DON'T don't Stop stop STOP", "don't x')or('1'='1 stop"]
)
def test_apostrophe_and_mixed_case_queries_match_python_bm25(apostrophe_index, query):
    got = {(r.doc_id, r.doc_title): r.doc_rank for r in bm25_search(apostrophe_index, query).collect()}
    want = _python_bm25(APOSTROPHE_CORPUS, query)
    assert want and set(got) == set(want)
    for key, val in want.items():
        assert got[key] == pytest.approx(val, abs=1e-9)


def test_all_oov_query_returns_empty_top_k_schema(index):
    df = bm25_search(index, "zzzmissing qqq'unseen ZZZMISSING")
    assert df.collect() == []
    assert df.schema.simpleString() == TOP_K_SCHEMA


def test_corpus_info_without_the_corpus_searches_empty(index):
    no_row = replace(index, corpus_info=index.corpus_info.where("corpus_name = 'other'"))
    for df in (bm25_search(no_row, "football"), bm25_search(index, "football", corpus_name="other")):
        assert df.collect() == []
        assert df.schema.simpleString() == TOP_K_SCHEMA


def test_duplicated_corpus_info_row_raises(index):
    # a join on the scalars would multiply every score by the row count
    twice = replace(index, corpus_info=index.corpus_info.unionByName(index.corpus_info))
    with pytest.raises(ValueError, match="2 rows for corpus 'whole_corpus'"):
        bm25_search(twice, "football").collect()


def test_empty_corpus_searches_to_empty_frame(spark):
    idx = build_index(spark.createDataFrame([], "doc_id long, doc_title string, text string"))
    df = bm25_search(idx, "football")
    assert df.collect() == []
    assert df.schema.simpleString() == TOP_K_SCHEMA


_GROUPS = itertools.count()


def _jobs(spark, action) -> int:
    """Spark jobs that ``action()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"test-bm25-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_on_a_loaded_store_runs_four_jobs(spark, tmp_path):
    """The corpus scalars are read once per index; every later search is
    the two broadcasts (vocabulary, doc lengths), the scan with the partial
    aggregate, and the top-k: no corpus_info scan or broadcast per search."""
    from big_data_assignment2_2025_spark.operators.index import (
        load_materialized_index,
        materialize_index,
    )

    built = build_index(spark.createDataFrame(CORPUS, "doc_id long, doc_title string, text string"))
    materialize_index(built, str(tmp_path / "store"))
    built.unpersist()
    store = load_materialized_index(spark, str(tmp_path / "store"))
    _jobs(spark, lambda: bm25_search(store, "football game").collect())
    later = [_jobs(spark, lambda: bm25_search(store, q).collect()) for q in ("chess", "game weather")]
    assert later == [4, 4]
