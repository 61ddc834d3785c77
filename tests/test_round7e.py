"""Round-7e: salted skew join, file-manifest skipping, BPE pair counts,
streaming latest-state. Correctness vs in-test recomputation plus the
plan-shape properties the scale story depends on (the DuckDB value gate
runs separately via tools/oracle_check.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.events_queries import events_latest_state
from big_data_assignment2_2025_spark.plans.storage_queries import (
    _staged_range_orders,
    manifest_for,
    orders_manifest_skipping,
)
from big_data_assignment2_2025_spark.plans.relational import skew_join_salted
from big_data_assignment2_2025_spark.plans.text_queries import text_bpe_merge_pairs
from big_data_assignment2_2025_spark.plans.streaming_queries import (
    streaming_latest_state,
)
from big_data_assignment2_2025_spark.sources.readers import load_table


def _plan(df, mode="simple"):
    spark = df.sparkSession
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


# --------------------------------------------------------------------- salt


def test_skew_join_salted_equals_plain_join(spark, sf_dir):
    got = {
        r["c_mktsegment"]: (r["n_events"], r["n_users"], r["total_value"])
        for r in skew_join_salted(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    want = {
        r["c_mktsegment"]: (r["n_events"], r["n_users"], r["total_value"])
        for r in ev.join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_skew_join_salted_is_shuffled_not_broadcast(spark, sf_dir):
    # the whole point of the salt is the SHUFFLED join path: a broadcast
    # join has no reducer to skew, so the plan must not silently broadcast
    plan = _plan(skew_join_salted(spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan.split("TakeOrderedAndProject")[0]


# ----------------------------------------------------------------- manifest


def test_manifest_prunes_files(spark, sf_dir):
    path = _staged_range_orders(spark, sf_dir)
    manifest = manifest_for(spark, path)
    assert len(manifest) >= 2  # range split produced multiple files
    import datetime as dt

    def as_dt(v):
        return (
            v
            if isinstance(v, dt.datetime)
            else dt.datetime(v.year, v.month, v.day)
        )

    keep = [
        m
        for m in manifest
        if as_dt(m["hi"]) >= dt.datetime(1997, 1, 1)
        and as_dt(m["lo"]) < dt.datetime(1998, 1, 1)
    ]
    # the fixture spans 1995..2001 over >=8 range files: a 1-year predicate
    # must exclude at least one whole file, or skipping is vacuous
    assert 0 < len(keep) < len(manifest)


def test_manifest_skipping_matches_full_scan(spark, sf_dir):
    got = {
        str(r["month"]): (r["n_orders"], r["revenue"])
        for r in orders_manifest_skipping(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    want = {
        str(r["month"]): (r["n_orders"], r["revenue"])
        for r in orders.where(
            (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
        )
        .groupBy(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------- bpe


def test_bpe_pairs_match_python_recount(spark, sf_dir):
    import re
    from collections import Counter

    rows = text_bpe_merge_pairs(spark, sf_dir).collect()
    assert len(rows) == 20

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    wf = Counter()
    for r in docs:
        if r["text"] is None:
            continue
        for w in re.findall(r"[\w']+", r["text"].lower()):
            wf[w] += 1
    pairs = Counter()
    for w, f in wf.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += f
    want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r["pair"], r["freq"]) for r in rows]
    assert got == want


def test_bpe_pair_scan_is_vocab_sized(spark, sf_dir):
    # the pair explode must hang off the word-frequency AGGREGATE (vocab-
    # sized), not the raw token stream: exactly 2 shuffles — wf and pairs
    plan = _plan(text_bpe_merge_pairs(spark, sf_dir))
    n_exchanges = plan.count("Exchange") - plan.count("Exchange rangepartitioning")
    assert n_exchanges <= 2, plan


# ---------------------------------------------------------------- streaming


def test_streaming_latest_state_equals_batch(spark, sf_dir):
    got = {
        (r["user_id"], r["event_type"]): (
            r["n_events"],
            r["first_value"],
            r["last_value"],
            r["last_sec"],
        )
        for r in streaming_latest_state(spark, sf_dir).collect()
    }
    want = {
        (r["user_id"], r["event_type"]): (
            r["n_events"],
            r["first_value"],
            r["last_value"],
            r["last_sec"],
        )
        for r in events_latest_state(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0
