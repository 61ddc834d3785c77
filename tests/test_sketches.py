"""Sketch operators: two-pass heavy hitters and weighted-priority sampling.

The oracle gate pins value parity; these pin the algorithmic guarantees —
exactness vs the full-shuffle form, the no-candidates edge, bounded
candidate shuffling, and top-k physical shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.functions.text import tokens_of
from big_data_assignment2_2025_spark.operators.sketches import (
    AUTO_CARDINALITY_FACTOR,
    heavy_hitters,
    heavy_hitters_auto,
    heavy_hitters_naive,
    weighted_priority_sample,
)
from big_data_assignment2_2025_spark.sources.readers import load_table
from tests.conftest import SF_SMALL


def _tokens(spark):
    docs = load_table(spark, SF_SMALL, "documents").where(F.col("text").isNotNull())
    return tokens_of(docs.select("text"))


def test_heavy_hitters_equals_full_shuffle_groupby(spark):
    toks = _tokens(spark)
    got = {
        r["term"]: r["cnt"] for r in heavy_hitters(toks, "term", 0.01).collect()
    }
    n = toks.count()
    want = {
        r["term"]: r["cnt"]
        for r in toks.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 0.01 * n)
        .collect()
    }
    assert got == want and got, "two-pass result must equal full GROUP BY"


def test_heavy_hitters_no_candidates_is_empty_with_schema(spark):
    toks = _tokens(spark)
    out = heavy_hitters(toks, "term", support=0.99)
    assert out.columns == ["term", "cnt", "n_total"]
    assert out.count() == 0


def test_heavy_hitters_exact_pass_buckets_non_candidates(spark):
    # the verification aggregate's group key folds non-candidates into a
    # NULL bucket (CASE WHEN term IN (...) THEN term END): partial
    # aggregation emits <= candidates+1 rows per task, and no plain
    # groupBy over the raw key column exists in the plan
    df = heavy_hitters(_tokens(spark), "term", 0.01)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CASE WHEN" in plan
    assert "IN (" in plan or "INSET" in plan.upper() or "isin" in plan.lower()
    assert "HashAggregate" in plan


def test_heavy_hitters_auto_picks_naive_on_small_universe(spark):
    # ~31-term vocabulary << 32/support: auto must run the single-pass
    # full-key form (no freqItems CASE WHEN bucketing in the plan) and
    # still match the two-pass result exactly
    toks = _tokens(spark)
    auto = heavy_hitters_auto(toks, "term", 0.01)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "CASE WHEN" not in plan, "auto should not bucket on a tiny universe"
    got = {(r["term"], r["cnt"], r["n_total"]) for r in auto.collect()}
    want = {
        (r["term"], r["cnt"], r["n_total"])
        for r in heavy_hitters(toks, "term", 0.01).collect()
    }
    assert got == want and got


def test_heavy_hitters_auto_picks_two_pass_on_large_universe(spark):
    # a synthetic universe of ~4k distinct keys > 32/support (3200 at 1%):
    # auto must run the bounded two-pass form (CASE WHEN bucketing in the
    # plan) and agree with the naive spelling bit for bit
    n_cold = int(AUTO_CARDINALITY_FACTOR / 0.01 * 1.25)
    df = (
        spark.range(0, 20_000)
        .select(
            F.when(F.col("id") % 10 < 2, F.concat(F.lit("hot_"), F.col("id") % 10))
            .otherwise(
                F.concat(F.lit("cold_"), F.pmod(F.xxhash64("id"), F.lit(n_cold)))
            )
            .alias("k")
        )
    )
    auto = heavy_hitters_auto(df, "k", 0.01)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "CASE WHEN" in plan, "auto should bucket on a large universe"
    got = {(r["k"], r["cnt"], r["n_total"]) for r in auto.collect()}
    want = {
        (r["k"], r["cnt"], r["n_total"])
        for r in heavy_hitters_naive(df, "k", 0.01).collect()
    }
    assert got == want
    assert {k for k, _, _ in got} == {"hot_0", "hot_1"}


def test_weighted_sample_is_deterministic_topk(spark):
    docs = load_table(spark, SF_SMALL, "documents").where(F.col("n_chars") > 0)
    a = weighted_priority_sample(docs, "doc_id", "n_chars", 50).collect()
    b = weighted_priority_sample(docs, "doc_id", "n_chars", 50).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == 50
    prios = [r["priority"] for r in a]
    assert prios == sorted(prios)
    # top-k must compile to TakeOrderedAndProject, never a global sort
    plan = (
        weighted_priority_sample(docs, "doc_id", "n_chars", 50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_biases_toward_heavy_rows(spark):
    # sampled docs should skew long: the mean length of the selected 100
    # must exceed the corpus mean (weight = n_chars)
    docs = load_table(spark, SF_SMALL, "documents").where(F.col("n_chars") > 0)
    sample_mean = (
        weighted_priority_sample(docs, "doc_id", "n_chars", 100)
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    assert sample_mean > corpus_mean


def test_ohlc_window_variant_matches_aggregate_form(spark):
    # the shuffle_report A/B comparator must be semantically identical to
    # the gated aggregate form, or the byte comparison is meaningless
    from big_data_assignment2_2025_spark.plans.timeseries_queries import (
        events_ohlc_bars,
    )
    from tools.shuffle_report import _ohlc_window_variant

    key = ["event_type", "day"]
    a = {tuple(r[k] for k in key): (r["open"], r["high"], r["low"], r["close"], r["n_events"])
         for r in events_ohlc_bars(spark, SF_SMALL).collect()}
    b = {tuple(r[k] for k in key): (r["open"], r["high"], r["low"], r["close"], r["n_events"])
         for r in _ohlc_window_variant(spark, SF_SMALL).collect()}
    assert a == b
