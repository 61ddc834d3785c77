"""Invariant tests for the round-7c tranche (plans/events_queries.py,
plans/sketches_queries.py, plans/search_queries.py): cohort retention,
last-touch attribution, MCV column stats, prefix and negated search."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.events_queries import (
    _ATTRIB_DAYS,
    events_attribution_last_touch,
    events_cohort_retention,
)
from big_data_assignment2_2025_spark.plans.sketches_queries import (
    _MCV_COLS,
    _MCV_K,
    lineitem_mcv_stats,
)
from big_data_assignment2_2025_spark.sources.readers import load_table


def test_cohort_offset_zero_is_full_cohort(spark, sf_dir):
    rows = events_cohort_retention(spark, sf_dir).collect()
    assert rows
    total_users = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    at_zero = [r for r in rows if r["day_offset"] == 0]
    # Every user is active on their own cohort day by definition.
    for r in at_zero:
        assert r["n_active"] == r["cohort_size"]
        assert r["retained_frac"] == 1.0
    assert sum(r["cohort_size"] for r in at_zero) == total_users
    for r in rows:
        assert 0 <= r["n_active"] <= r["cohort_size"]
        assert r["day_offset"] >= 0


def test_attribution_agrees_with_naive_range_join(spark, sf_dir):
    """The window spelling must equal the naive purchases-x-clicks range
    join (EXISTS click in (ts - 7d, ts) for the same user) — the
    semantics, independently spelled."""
    got = {
        str(r["day"]): (r["purchases"], r["attributed_purchases"])
        for r in events_attribution_last_touch(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    lookback = _ATTRIB_DAYS * 86400 * 1_000_000
    attributed = (
        p.join(c, "user_id")
        .where(
            (
                (F.unix_micros("cts") < F.unix_micros("pts"))
                | (
                    (F.unix_micros("cts") == F.unix_micros("pts"))
                    & (F.col("cid") < F.col("pid"))
                )
            )
            & (F.unix_micros("pts") - F.unix_micros("cts") <= lookback)
        )
        .select("pid", F.to_date("pts").alias("day"))
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )
    naive_attr = {str(r["day"]): r["n"] for r in attributed.collect()}
    naive_tot = {
        str(r["day"]): r["n"]
        for r in p.groupBy(F.to_date("pts").alias("day"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == set(naive_tot)
    for day, (tot, attr) in got.items():
        assert tot == naive_tot[day]
        assert attr == naive_attr.get(day, 0), day


def test_mcv_topk_shape_and_counts(spark, sf_dir):
    rows = lineitem_mcv_stats(spark, sf_dir).collect()
    by_col: dict = {}
    for r in rows:
        by_col.setdefault(r["col_name"], []).append(r)
    assert set(by_col) == set(_MCV_COLS)
    li = load_table(spark, sf_dir, "lineitem")
    for col, crows in by_col.items():
        assert len(crows) <= _MCV_K
        ns = [r["n"] for r in sorted(crows, key=lambda r: r["rank"])]
        assert ns == sorted(ns, reverse=True)
        assert abs(sum(r["freq"] for r in crows) - 1.0) < 1e-6 or sum(
            r["freq"] for r in crows
        ) < 1.0 + 1e-9
    # Spot-check one column's top value against a direct aggregate.
    top = min(by_col["l_returnflag"], key=lambda r: r["rank"])
    direct = (
        li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("l_returnflag").asc())
        .first()
    )
    assert top["val"] == direct["l_returnflag"] and top["n"] == direct["n"]


def test_bm25_exclusion_drops_docs_with_excluded_term(spark, sf_dir):
    from big_data_assignment2_2025_spark.plans.search_queries import (
        _EXCL_TERM,
        bm25_search_excluding,
    )

    rows = bm25_search_excluding(spark, sf_dir).collect()
    assert rows
    ids = [r["doc_id"] for r in rows]
    texts = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin(ids))
        .collect()
    )
    import re as _re

    for t in texts:
        toks = set(_re.findall(r"[\w']+", t["text"].lower()))
        assert _EXCL_TERM not in toks


def test_bm25_prefix_expands_only_prefix_terms(spark, sf_dir):
    """Every doc in the prefix result must contain at least one token
    starting with the prefix; scores are positive and sorted."""
    from big_data_assignment2_2025_spark.plans.search_queries import (
        _PREFIX,
        bm25_prefix_search,
    )

    rows = bm25_prefix_search(spark, sf_dir).collect()
    assert rows
    scores = [r["doc_rank"] for r in rows]
    assert scores == sorted(scores, reverse=True) and all(s > 0 for s in scores)
    ids = [r["doc_id"] for r in rows]
    texts = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin(ids))
        .collect()
    )
    import re as _re

    for t in texts:
        toks = _re.findall(r"[\w']+", t["text"].lower())
        assert any(tok.startswith(_PREFIX) for tok in toks)


def test_stream_join_left_holds_back_tail_clicks(spark, sf_dir):
    """The left-outer stream join must emit matched pairs, NULL-pad
    provably-unmatched clicks, and HOLD BACK clicks whose 1h match window
    the final watermark has not passed — exactly that partition."""
    from big_data_assignment2_2025_spark.streaming.stream import (
        run_streaming_stream_join_left,
    )

    out = run_streaming_stream_join_left(spark, sf_dir).collect()
    assert out
    emitted = {r["click_id"] for r in out}
    n_null = sum(1 for r in out if r["purchase_id"] is None)
    assert n_null > 0, "fixture produced no unconverted clicks"
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id").isNotNull())
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(F.col("ts").alias("pts"))
    wm_us = min(
        (r[0] // 1000) * 1000
        for r in [
            c.agg(F.max(F.unix_micros("cts"))).collect()[0],
            p.agg(F.max(F.unix_micros("pts"))).collect()[0],
        ]
    ) - 7200 * 1_000_000
    held = {
        r["click_id"]
        for r in c.where(
            F.unix_micros("cts") + 3600 * 1_000_000 >= F.lit(wm_us)
        ).collect()
    }
    all_clicks = {r["click_id"] for r in c.collect()}
    # every click is either emitted or provably still in its match window
    assert emitted | held == all_clicks
    # and no held-back UNMATCHED click leaked out
    matched = {r["click_id"] for r in out if r["purchase_id"] is not None}
    assert all(cid in matched for cid in emitted & held)


def test_snippets_contain_query_terms(spark, sf_dir):
    from big_data_assignment2_2025_spark.operators.search import parse_query
    from big_data_assignment2_2025_spark.plans.search_queries import search_snippets
    from big_data_assignment2_2025_spark.plans.search_queries import FLAGSHIP_QUERY

    terms = set(parse_query(FLAGSHIP_QUERY))
    rows = search_snippets(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        toks = r["snippet"].split()
        assert 1 <= len(toks) <= 7
        assert terms & set(toks), r["snippet"]


def test_band_join_blocked_equals_naive_and_probes_less(spark, sf_dir):
    from big_data_assignment2_2025_spark.plans.temporal_queries import (
        _BAND_US,
        events_band_join_grid,
    )

    got = {
        str(r["day"]): (r["n_pairs"], r["n_errors"], r["n_purchases"])
        for r in events_band_join_grid(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    e = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"),
        F.unix_micros("ts").alias("err_us"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pur_id"),
        F.unix_micros("ts").alias("pur_us"),
    )
    naive = (
        e.join(p, "user_id")
        .where(F.abs(F.col("err_us") - F.col("pur_us")) <= _BAND_US)
        .groupBy(
            F.to_date(F.timestamp_micros(F.col("err_us"))).alias("day")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("err_id").alias("n_errors"),
            F.countDistinct("pur_id").alias("n_purchases"),
        )
    )
    expect = {
        str(r["day"]): (r["n_pairs"], r["n_errors"], r["n_purchases"])
        for r in naive.collect()
    }
    assert got == expect and got
    # the grid probes strictly fewer candidate pairs than the naive
    # user-only join fans out
    naive_probes = e.join(p, "user_id").count()
    blocked = e.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"CAST(err_us DIV {_BAND_US} AS BIGINT) - 1"),
                F.expr(f"CAST(err_us DIV {_BAND_US} AS BIGINT)"),
                F.expr(f"CAST(err_us DIV {_BAND_US} AS BIGINT) + 1"),
            )
        ),
    ).join(
        p.withColumn(
            "bucket", F.expr(f"CAST(pur_us DIV {_BAND_US} AS BIGINT)")
        ),
        ["user_id", "bucket"],
    ).count()
    assert blocked < naive_probes
