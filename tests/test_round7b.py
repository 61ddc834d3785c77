"""Invariant tests for the round-7b tranche (plans/sketches_queries.py,
plans/timeseries_queries.py, plans/search_queries.py, plans/relational.py):
chunked-bitmap exact distinct, gap-fill interpolation, RRF fusion,
positional phrase search, incremental view maintenance.

The hash-gate against DuckDB lives in the driver/oracle_check; these
tests pin the semantic invariants that survive fixture regeneration.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.search_queries import (
    _PHRASE,
    search_phrase_match,
    search_rrf_fusion,
)
from big_data_assignment2_2025_spark.plans.similarity_queries import (
    embedding_int8_quantize,
)
from big_data_assignment2_2025_spark.plans.sketches_queries import (
    events_bitmap_daily_users,
)
from big_data_assignment2_2025_spark.plans.timeseries_queries import (
    events_gap_fill_interpolate,
)
from big_data_assignment2_2025_spark.plans.relational import (
    ivm_orders_agg_refresh,
    orders_group_sample,
    snapshot_diff_cdc,
)
from big_data_assignment2_2025_spark.sources.readers import load_table


def test_bitmap_dau_equals_exact_distinct(spark, sf_dir):
    got = {
        r["day"]: r["dau"]
        for r in events_bitmap_daily_users(spark, sf_dir).collect()
    }
    exact = {
        r["day"]: r["dau"]
        for r in load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & (F.col("user_id") >= 0))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("dau"))
        .collect()
    }
    assert got == exact and got


def test_bitmap_words_bounded_by_id_universe(spark, sf_dir):
    rows = events_bitmap_daily_users(spark, sf_dir).collect()
    max_id = (
        load_table(spark, sf_dir, "events")
        .agg(F.max("user_id"))
        .collect()[0][0]
    )
    cap = max_id // 32 + 1
    assert all(r["words_touched"] <= cap for r in rows)


def test_gap_fill_dense_and_anchored(spark, sf_dir):
    out = events_gap_fill_interpolate(spark, sf_dir)
    rows = out.collect()
    assert all(r["value_filled"] is not None for r in rows)
    # Dense: per-user row count == span length, exactly one row per day.
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for urows in by_user.values():
        days = sorted(r["day"] for r in urows)
        assert len(set(days)) == len(days)
        assert (days[-1] - days[0]).days + 1 == len(days)
        # Endpoints of each span are observed, never interpolated.
        first = min(urows, key=lambda r: r["day"])
        last = max(urows, key=lambda r: r["day"])
        assert not first["was_gap"] and not last["was_gap"]


def test_gap_fill_interpolation_is_bounded_by_walls(spark, sf_dir):
    rows = sorted(
        events_gap_fill_interpolate(spark, sf_dir).collect(),
        key=lambda r: (r["user_id"], r["day"]),
    )
    # Every gap value lies within [min, max] of its neighbouring observed
    # values — the defining property of linear interpolation.
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    checked = 0
    for urows in by_user.values():
        obs = [(i, r["value_filled"]) for i, r in enumerate(urows) if not r["was_gap"]]
        for (i0, v0), (i1, v1) in zip(obs, obs[1:]):
            lo, hi = min(v0, v1), max(v0, v1)
            for j in range(i0 + 1, i1):
                assert lo - 1e-6 <= urows[j]["value_filled"] <= hi + 1e-6
                checked += 1
    assert checked > 0, "fixture produced no gaps; invariant untested"


def test_rrf_scores_bounded_and_sorted(spark, sf_dir):
    rows = search_rrf_fusion(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # Max possible: rank 1 in both lists; min: rank 20 in one list.
    assert all(1.0 / 80 - 1e-6 <= s <= 2.0 / 61 + 1e-6 for s in scores)


def test_phrase_match_counts_against_python(spark, sf_dir):
    out = search_phrase_match(spark, sf_dir).collect()
    assert out, "phrase absent from fixture"
    ids = [r["doc_id"] for r in out]
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin(ids))
        .collect()
    }
    for r in out:
        toks = re.findall(r"[\w']+", texts[r["doc_id"]].lower())
        expect = sum(
            1
            for a, b in zip(toks, toks[1:])
            if (a, b) == _PHRASE
        )
        assert r["phrase_hits"] == expect > 0


def test_ivm_refresh_equals_full_recompute(spark, sf_dir):
    got = {
        r["o_custkey"]: (r["order_count"], r["total_cents"])
        for r in ivm_orders_agg_refresh(spark, sf_dir).collect()
    }
    full = {
        r["o_custkey"]: (r["cnt"], r["cents"])
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(
                F.round(F.col("o_totalprice").cast("double") * 100).cast("long")
            ).alias("cents"),
        )
        .collect()
    }
    assert got == full and got


def test_streaming_bitmap_dau_equals_batch(spark, sf_dir):
    """bit_or words are deterministic monotone integers, so the streaming
    drain's reconciled state must equal the batch bitmap aggregate
    exactly — the exact-distinct counterpart of the HLL/CMS twins."""
    from big_data_assignment2_2025_spark.streaming.stream import (
        run_streaming_bitmap_dau,
    )

    stream = {
        (str(r["day"])): (r["dau"], r["words_touched"])
        for r in run_streaming_bitmap_dau(spark, sf_dir).collect()
    }
    batch = {
        (str(r["day"])): (r["dau"], r["words_touched"])
        for r in events_bitmap_daily_users(spark, sf_dir).collect()
    }
    assert stream == batch and stream


def test_group_sample_k_per_segment_and_deterministic(spark, sf_dir):
    rows = orders_group_sample(spark, sf_dir).collect()
    by_seg: dict = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], []).append(r)
    assert len(by_seg) == 5
    for seg, srows in by_seg.items():
        assert [r["rn"] for r in sorted(srows, key=lambda r: r["rn"])] == list(
            range(1, len(srows) + 1)
        )
        assert len(srows) <= 5
        pris = [r["priority"] for r in sorted(srows, key=lambda r: r["rn"])]
        assert pris == sorted(pris)
    again = orders_group_sample(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_cdc_diff_classifies_all_three_kinds(spark, sf_dir):
    rows = snapshot_diff_cdc(spark, sf_dir).collect()
    kinds = {r["change_type"] for r in rows}
    assert kinds == {"insert", "update", "delete"}
    for r in rows:
        if r["change_type"] == "insert":
            assert r["cents_a"] is None and r["cents_b"] is not None
        elif r["change_type"] == "delete":
            assert r["cents_b"] is None and r["cents_a"] is not None
            assert r["o_orderkey"] % 13 == 0
        else:
            assert r["cents_b"] - r["cents_a"] == 100
            assert r["o_orderkey"] % 7 == 0


def test_int8_codes_in_range_and_reconstructable(spark, sf_dir):
    out = {r["vec_id"]: r for r in embedding_int8_quantize(spark, sf_dir).collect()}
    assert out
    for r in out.values():
        assert -127 <= r["code_min"] <= r["code_max"] <= 127
        assert r["scale_micro"] > 0
    # Recompute codes in plain Python for a handful of vectors: the JVM
    # expression must agree with the definition exactly.
    import math

    sample = (
        load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(5)
        .collect()
    )
    for row in sample:
        x = [float(v) for v in row["embedding"]]
        m = max(abs(v) for v in x)
        codes = [math.floor(v * 127.0 / m + 0.5) for v in x]
        r = out[row["vec_id"]]
        assert r["code_sum"] == sum(codes)
        assert r["code_sq_sum"] == sum(c * c for c in codes)
        assert r["code_min"] == min(codes) and r["code_max"] == max(codes)
