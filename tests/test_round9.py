"""Round-9 gated PQ family: deterministic lowest-id codebooks, Catalyst
encode, ADC top-k and IVFADC-style exact rerank (plans/similarity_queries.py).
The DuckDB oracle is the primary gate; these tests pin the pieces the
oracle can't see — codebook construction, code domain, and that the
reranked distances are the TRUE L2 distances."""

from __future__ import annotations

import math

import pytest

from big_data_assignment2_2025_spark.operators.pq import (
    pq_encode,
    pq_lowest_id_codebooks,
    pq_topk,
)
from big_data_assignment2_2025_spark.plans.similarity_queries import (
    _K_CENTS,
    _M,
    ann_pq_rerank,
    ann_pq_topk,
)
from big_data_assignment2_2025_spark.sources.readers import load_table


def _vecs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}


def test_lowest_id_codebooks_are_the_lowest_id_subvectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_lowest_id_codebooks(emb, m=_M, k=_K_CENTS)
    vecs = _vecs(spark, sf_dir)
    lowest = [vecs[i] for i in sorted(vecs)[:_K_CENTS]]
    d_sub = len(lowest[0]) // _M
    assert books.shape == (_M, _K_CENTS, d_sub)
    for j in range(_M):
        for c in range(_K_CENTS):
            assert list(books[j][c]) == lowest[c][j * d_sub : (j + 1) * d_sub]


def test_pq_encode_one_row_per_vector_codes_in_domain(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_lowest_id_codebooks(emb, m=_M, k=_K_CENTS)
    rows = pq_encode(emb, books).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r["codes"]) == _M
        assert all(0 <= c < _K_CENTS for c in r["codes"])
    # a codebook member encodes to itself in every subspace
    by_id = {r["vec_id"]: list(r["codes"]) for r in rows}
    for c in range(_K_CENTS):
        vid = sorted(by_id)[c]
        assert by_id[vid] == [c] * _M, vid


def test_ann_pq_topk_shape_and_no_self(spark, sf_dir):
    rows = ann_pq_topk(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r)
    assert sorted(per_q) == [0, 1, 2, 3, 4]
    for q, rs in per_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3, 4, 5]
        d = [r["approx_d2"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert d == sorted(d), q


def test_ann_pq_rerank_distances_are_true_l2(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    for r in ann_pq_rerank(spark, sf_dir).collect():
        q, n = vecs[r["query_id"]], vecs[r["neighbor_id"]]
        true_d2 = math.fsum((a - b) * (a - b) for a, b in zip(q, n))
        assert r["exact_d2"] == pytest.approx(true_d2, abs=2e-6)


def test_pq_partial_topk_survives_multiple_batches(spark, sf_dir):
    """The per-batch partial cut must compose to the same global top-k
    regardless of Arrow batch size (regression: the query's own row used
    to consume a slot in its home batch)."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_lowest_id_codebooks(emb, m=_M, k=_K_CENTS)
    queries = emb.where(emb.vec_id < 5)
    codes1 = pq_encode(emb, books).coalesce(1)
    codes8 = pq_encode(emb.repartition(8), books)
    got1 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in pq_topk(codes1, queries, books, k=5).collect()
    }
    got8 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in pq_topk(codes8, queries, books, k=5).collect()
    }
    assert got1 == got8 and len(got1) == 25


def test_sq8_codes_in_range_and_recall(spark, sf_dir):
    """int8 codes stay in [-127, 127]; SQ8's top-5 recalls most of the
    exact-cosine top-5 (scalar quantization of 64-dim floats loses little
    ranking signal)."""
    from pyspark.sql import functions as F

    from big_data_assignment2_2025_spark.operators.similarity import (
        brute_force_topk,
    )
    from big_data_assignment2_2025_spark.plans.similarity_queries import (
        _sq8_quantized,
        ann_sq8_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sq = _sq8_quantized(emb)
    bad = sq.where(
        F.exists("q", lambda c: (c > 127) | (c < -127))
    ).count()
    assert bad == 0
    exact = brute_force_topk(emb, emb.where(emb.vec_id < 5), k=5)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got_set = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_sq8_topk(spark, sf_dir).collect()
    }
    recall = len(exact_set & got_set) / len(exact_set)
    assert recall >= 0.8, recall
