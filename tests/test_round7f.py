"""Round-7f: sequence pattern match, containment dedup, observe() metrics."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.dedup_queries import dedup_containment
from big_data_assignment2_2025_spark.plans.events_queries import events_pattern_match
from big_data_assignment2_2025_spark.plans.sketches_queries import observed_profile
from big_data_assignment2_2025_spark.sources.readers import load_table


def test_pattern_match_equals_python_recount(spark, sf_dir):
    got = {
        (r["user_id"], str(r["day"])): (r["seq_len"], r["n_matches"])
        for r in events_pattern_match(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            (
                F.floor(F.col("ts").cast("double")).cast("long")
                * F.lit(10_000_000).cast("long")
                + F.col("event_id")
            ).alias("ord"),
            F.substring("event_type", 1, 1).alias("sym"),
        )
        .collect()
    )
    seqs: dict = {}
    for r in ev:
        seqs.setdefault((r["user_id"], str(r["day"])), []).append(
            (r["ord"], r["sym"])
        )
    want = {}
    for k, pairs in seqs.items():
        seq = "".join(s for _, s in sorted(pairs))
        n = len(re.findall(r"vc+p", seq))
        if n >= 1:
            want[k] = (len(seq), n)
    assert got == want and len(got) > 0


def test_containment_catches_asymmetric_pairs(spark, sf_dir):
    rows = dedup_containment(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # score definitions hold and the threshold is respected
        assert round(r["inter"] / r["n1"], 6) == r["contain_1_in_2"]
        assert round(r["inter"] / r["n2"], 6) == r["contain_2_in_1"]
        assert max(r["contain_1_in_2"], r["contain_2_in_1"]) >= 0.8
        # containment is a superset signal of Jaccard: max containment
        # always >= the symmetric score
        jac = r["inter"] / (r["n1"] + r["n2"] - r["inter"])
        assert max(r["contain_1_in_2"], r["contain_2_in_1"]) >= round(jac, 6)


def test_observation_metrics_match_recomputation(spark, sf_dir):
    result, obs = observed_profile(spark, sf_dir)
    rows = result.collect()  # action -> metrics become available
    assert len(rows) > 0
    orders = load_table(spark, sf_dir, "orders")
    want = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_custkey").isNull()).alias("n_null_cust"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    ).collect()[0]
    got = obs.get
    assert got["n_rows"] == want["n_rows"]
    assert got["n_null_cust"] == want["n_null_cust"]
    assert got["min_date"] == want["min_date"]
    assert got["max_date"] == want["max_date"]
    # and the observed totals reconcile with the grouped result
    assert sum(r["n_orders"] for r in rows) == got["n_rows"]


def test_binary_hamming_matches_python_recount(spark, sf_dir):
    from big_data_assignment2_2025_spark.plans.similarity_queries import (
        embedding_binary_hamming_topk,
    )

    got = [
        (r["query_id"], r["neighbor_id"], r["hamming"], r["rank"])
        for r in embedding_binary_hamming_topk(spark, sf_dir).collect()
    ]
    emb = load_table(spark, sf_dir, "embeddings").collect()
    sigs = {}
    for r in emb:
        v = r["embedding"]
        if v is None or len(v) == 0:
            continue
        sigs[r["vec_id"]] = sum(1 << i for i, x in enumerate(v) if x > 0)
    want = []
    for qid in sorted(k for k in sigs if k < 5):
        dists = sorted(
            (bin(sigs[qid] ^ s).count("1"), nid)
            for nid, s in sigs.items()
            if nid != qid
        )
        for rank, (h, nid) in enumerate(dists[:5], start=1):
            want.append((qid, nid, h, rank))
    assert sorted(got) == sorted(want) and len(got) > 0


def test_hamming_rerank_recall_vs_exact(spark, sf_dir):
    """The two-stage result should recover most of the exact cosine top-5:
    sign-bit signatures preserve angles (random-projection argument), so a
    32-candidate shortlist at ~100 vectors keeps recall high."""
    from big_data_assignment2_2025_spark.plans.similarity_queries import (
        ann_bruteforce_topk,
        ann_hamming_rerank,
    )

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(spark, sf_dir).collect()
    }
    staged = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_hamming_rerank(spark, sf_dir).collect()
    }
    assert len(staged) == len(exact) > 0
    recall = len(exact & staged) / len(exact)
    assert recall >= 0.6, f"two-stage recall {recall:.2f} vs exact top-5"


def test_packed_ord_key_event_id_bound():
    """The packed ordering key ``sec * 10_000_000 + event_id`` (used by
    user_day_sequences, events_queries, round7g and the streaming
    latest_state/pattern_match paths) is only a total order when
    ``0 <= event_id < 10_000_000``. A regenerated fixture with larger ids
    would interleave seconds IDENTICALLY on both engines — the oracle gate
    would stay green while the sequence semantics silently broke — so the
    bound is pinned here against every shipped scale factor (r7 ADVICE)."""
    import glob

    import pyarrow.parquet as pq

    dirs = sorted(glob.glob("/root/testdata/sf*/events.parquet"))
    assert dirs, "no events fixtures found"
    for path in dirs:
        tbl = pq.read_table(path, columns=["event_id"])
        ids = tbl.column("event_id")
        import pyarrow.compute as pc

        lo, hi = pc.min(ids).as_py(), pc.max(ids).as_py()
        assert lo >= 0, f"{path}: negative event_id {lo}"
        assert hi < 10_000_000, (
            f"{path}: event_id {hi} overflows the packed ord key; "
            "widen the multiplier or switch to the padded-string _ord_key"
        )
