"""Property-based tests (hypothesis) for index/BM25 invariants
(SURVEY.md §5.4): random corpora -> structural invariants that must hold for
ANY input, catching classes of bugs example tests miss.

The Spark session is module-scoped and corpora are small (Spark round-trips
per example are expensive), so examples are capped but each exercises the
full distributed pipeline.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.functions.text import tokenize
from big_data_assignment2_2025_spark.operators.index import build_index
from big_data_assignment2_2025_spark.operators.search import bm25_search

_words = st.text(
    alphabet=st.sampled_from("abc déf_1'"), min_size=0, max_size=12
)
_texts = st.lists(_words, min_size=0, max_size=20).map(" ".join)
_corpus = st.lists(_texts, min_size=1, max_size=8)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(corpus=_corpus)
@_SETTINGS
def test_index_invariants(spark, corpus):
    df = spark.createDataFrame(
        [(i, f"doc_{i}", t) for i, t in enumerate(corpus)],
        ["doc_id", "doc_title", "text"],
    )
    idx = build_index(df)
    tf = idx.term_freq.collect()
    vocab = {r.term: r.doc_frequency for r in idx.term_doc_freq.collect()}
    docs = {r.doc_id: r.doc_length for r in idx.doc_info.collect()}
    ci = idx.corpus_info.collect()

    # doc_frequency == number of distinct docs containing the term
    per_term_docs = {}
    for r in tf:
        per_term_docs.setdefault(r.term, set()).add(r.doc_id)
    assert vocab == {t: len(ds) for t, ds in per_term_docs.items()}

    # sum of term frequencies per doc == doc_length
    per_doc_len = {}
    for r in tf:
        per_doc_len[r.doc_id] = per_doc_len.get(r.doc_id, 0) + r.term_frequency
    assert docs == per_doc_len

    # corpus stats consistent with doc_info (docs with zero tokens excluded
    # by the blank-text guard BEFORE tokenizing, so doc_n == len(docs))
    if docs:
        assert ci[0].doc_n == len(docs)
        assert ci[0].total_doc_length == sum(docs.values())
    else:
        assert not ci or ci[0].doc_n == 0


@given(corpus=_corpus, query=_texts)
@_SETTINGS
def test_bm25_topk_bounded_and_sorted(spark, corpus, query):
    df = spark.createDataFrame(
        [(i, f"doc_{i}", t) for i, t in enumerate(corpus)],
        ["doc_id", "doc_title", "text"],
    )
    idx = build_index(df)
    out = bm25_search(idx, query, k=5).collect()
    assert len(out) <= 5
    ranks = [r.doc_rank for r in out]
    assert ranks == sorted(ranks, reverse=True)
    # every returned doc contains at least one query term
    q_terms = set(query.lower().split())
    for r in out:
        text = corpus[r.doc_id].lower()
        toks = set(re.findall(r"[\w']+", text))
        assert toks & {t for qt in q_terms for t in re.findall(r"[\w']+", qt)}


@given(text=_texts)
@_SETTINGS
def test_tokenizer_matches_cpython(spark, text):
    got = spark.createDataFrame([(text,)], ["t"]).select(
        tokenize(F.col("t")).alias("toks")
    ).collect()[0].toks
    assert got == re.findall(r"[\w']+", text.lower())


_metric_lists = st.lists(
    st.integers(min_value=-5, max_value=5), min_size=1, max_size=60
)


@given(vals=_metric_lists, tiles=st.integers(min_value=1, max_value=12))
@_SETTINGS
def test_distributed_ntile_matches_window_ntile(spark, vals, tiles):
    """For ANY tie structure and tile count, with_global_ntiles must equal
    ntile over the same total order — with and without composite sub_key
    boundaries (both code paths exercised each example)."""
    from pyspark.sql import Window

    from big_data_assignment2_2025_spark.operators.ranking import (
        NtileSpec,
        with_global_ntiles,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["id", "v"]
    )
    w = Window.orderBy(F.desc("v"), F.col("id").asc())
    want = sorted(
        map(tuple, df.withColumn("t", F.ntile(tiles).over(w)).collect())
    )
    for sub in (None, F.col("id")):
        got = with_global_ntiles(
            df,
            [
                NtileSpec(
                    "t",
                    -F.col("v"),
                    [F.desc("v"), F.col("id").asc()],
                    sub_key=sub,
                )
            ],
            n_tiles=tiles,
            n_buckets=4,
        )
        assert sorted(map(tuple, got.collect())) == want


# ---------------------------------------------------------------------------
# Round-5 sketch-operator properties
# ---------------------------------------------------------------------------

_keys = st.lists(
    st.sampled_from(["a", "b", "c", "dd", "ee", "ff", "gg", "hh"]),
    min_size=1,
    max_size=60,
)


@given(keys=_keys, support=st.sampled_from([0.05, 0.15, 0.4]))
@_SETTINGS
def test_heavy_hitters_equals_full_groupby_on_random_data(spark, keys, support):
    from big_data_assignment2_2025_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", support).collect()}
    n = len(keys)
    from collections import Counter

    want = {k: c for k, c in Counter(keys).items() if c > support * n}
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 5)), min_size=1, max_size=40
    ),
    split=st.integers(0, 39),
)
@_SETTINGS
def test_xor_checksum_is_mergeable_across_arbitrary_splits(spark, rows, split):
    # checksum(A union B) == checksum(A) XOR checksum(B): the property that
    # lets two clusters fingerprint shards independently and combine
    digest = F.conv(
        F.substring(F.md5(F.concat_ws("|", "a", "b")), 1, 15), 16, 10
    ).cast("long")

    def chk(data):
        if not data:
            return 0
        df = spark.createDataFrame(data, ["a", "b"])
        return df.select(digest.alias("d")).agg(F.expr("bit_xor(d)")).first()[0]

    split = min(split, len(rows))
    whole, a, b = chk(rows), chk(rows[:split]), chk(rows[split:])
    assert whole == a ^ b


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),      # event_type
            st.integers(0, 3),                 # ts second (forced collisions)
            st.integers(0, 999),               # event_id (unique-ified below)
            st.integers(-50, 50),              # value
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_ohlc_argmin_key_resolves_timestamp_ties_exactly(spark, rows):
    # unique event ids, heavy ts collisions: min_by/max_by on the
    # zero-padded composite key must pick the SAME row a sequential scan
    # ordered by (ts, event_id) picks
    import datetime

    data = [
        (t, datetime.datetime(2024, 1, 1, 0, 0, s), i, float(v))
        for i, (t, s, _, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_type string, ts timestamp, event_id long, value double"
    )
    from big_data_assignment2_2025_spark.plans.timeseries_queries import _ord_key

    key = _ord_key(F.unix_micros("ts"), F.col("event_id"))
    got = {
        r["event_type"]: (r["open"], r["close"])
        for r in df.groupBy("event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max_by("value", key).alias("close"),
        )
        .collect()
    }
    want = {}
    for t, ts, i, v in sorted(data, key=lambda x: (x[1], x[2])):
        if t not in want:
            want[t] = [v, v]
        want[t][1] = v
    assert got == {t: tuple(oc) for t, oc in want.items()}


@given(
    keys=st.lists(st.integers(0, 10**6), min_size=1, max_size=30, unique=True)
)
@_SETTINGS
def test_uniform_weights_reduce_weighted_sample_to_hash_rank(spark, keys):
    # with all weights equal, the weighted-priority sample must degrade to
    # a plain deterministic hash-rank sample (priority order == hash order)
    from big_data_assignment2_2025_spark.operators.sketches import (
        weighted_priority_sample,
    )

    df = spark.createDataFrame([(k, 7) for k in keys], ["k", "w"])
    k = min(5, len(keys))
    got = [r["k"] for r in weighted_priority_sample(df, "k", "w", k).collect()]
    import hashlib

    def h52(x):
        return int(hashlib.md5(str(x).encode()).hexdigest()[:13], 16)

    want = sorted(keys, key=lambda x: (h52(x), x))[:k]
    assert got == want
