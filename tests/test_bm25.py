"""Golden BM25 tests: independent pure-Python scorer (same simplified IDF,
k1=1, b=0.75 — reference ``app/query.py:131-135``) over a handwritten corpus.
Covers the edge cases the reference encodes (SURVEY.md §5.2)."""

from __future__ import annotations

import math
import re
from collections import Counter

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
    return build_index(corpus).cache()


def _run(index, q, k=10):
    return bm25_search(index, q, k=k, deterministic_ties=True).collect()


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
    rows = bm25_search(idx, "common", deterministic_ties=True).collect()
    # idf = ln(3/3) = 0 -> every score exactly 0.0, all docs still returned
    assert len(rows) == 3
    assert all(r.doc_rank == 0.0 for r in rows)


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
    name = "bm25_search_materialized"

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
