"""Round-7g: seasonal decomposition — identity and determinism checks."""

from __future__ import annotations

from big_data_assignment2_2025_spark.plans.timeseries_queries import (
    events_seasonal_decompose,
)


def test_decomposition_identity_holds(spark, sf_dir):
    rows = events_seasonal_decompose(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # additive identity: value = trend + seasonal + remainder, up to
        # the two independent output roundings (each 0.5e-6)
        recon = r["trend"] + r["seasonal"] + r["remainder"]
        assert abs(recon - r["value"]) < 5e-6, r


def test_seasonal_means_are_centered(spark, sf_dir):
    import collections

    rows = events_seasonal_decompose(spark, sf_dir).collect()
    # remainder sums to ~0 within each day-of-week class by construction
    by_dow = collections.defaultdict(list)
    for r in rows:
        by_dow[r["day"].toordinal() % 7].append(r["remainder"])
    for dow, rem in by_dow.items():
        assert abs(sum(rem) / len(rem)) < 1e-4, (dow, rem)


def test_decompose_is_run_deterministic(spark, sf_dir):
    a = [tuple(r) for r in events_seasonal_decompose(spark, sf_dir).collect()]
    b = [tuple(r) for r in events_seasonal_decompose(spark, sf_dir).collect()]
    assert a == b


def test_ewma_baseline_matches_python(spark, sf_dir):
    from big_data_assignment2_2025_spark.plans.timeseries_queries import (
        _EWMA_LAGS,
        _SCALE,
        events_ewma_anomaly,
    )
    from big_data_assignment2_2025_spark.sources.readers import load_table
    from pyspark.sql import functions as F
    import math

    got = {str(r["day"]): r for r in events_ewma_anomaly(spark, sf_dir).collect()}
    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.expr(f"CAST(floor(round(value,4)*{_SCALE} + 0.5) AS BIGINT)")
            ).alias("v_us")
        )
        .orderBy("day")
        .collect()
    )
    series = [(str(r["day"]), r["v_us"]) for r in daily]
    n_checked = 0
    for i in range(_EWMA_LAGS, len(series)):
        day, v = series[i]
        num = sum(
            series[i - k][1] * (2 ** (_EWMA_LAGS - k))
            for k in range(1, _EWMA_LAGS + 1)
        )
        baseline = num / float(2**_EWMA_LAGS - 1)
        r = got[day]
        assert math.isclose(r["ewma"], round(baseline / _SCALE, 6), abs_tol=1e-9)
        assert r["is_anomaly"] in (0, 1)
        n_checked += 1
    assert n_checked == len(got) > 0


def test_langid_confusion_shares_sum_to_one(spark, sf_dir):
    from collections import defaultdict

    from big_data_assignment2_2025_spark.plans.text_queries import docs_langid_confusion

    rows = docs_langid_confusion(spark, sf_dir).collect()
    assert len(rows) > 0
    by_lang = defaultdict(float)
    for r in rows:
        by_lang[r["lang"]] += r["share"]
    for lang, s in by_lang.items():
        assert abs(s - 1.0) < 1e-4, (lang, s)


def test_top_paths_counts_match_sequences(spark, sf_dir):
    from collections import Counter

    from pyspark.sql import functions as F

    from big_data_assignment2_2025_spark.plans.events_queries import user_day_sequences
    from big_data_assignment2_2025_spark.plans.events_queries import events_top_paths
    from big_data_assignment2_2025_spark.sources.readers import load_table

    got = [
        (r["seq"], r["n_user_days"])
        for r in events_top_paths(spark, sf_dir).collect()
    ]
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    counts = Counter(
        r["seq"] for r in user_day_sequences(ev).collect()
    )
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want and len(got) > 0


def test_entropy_matches_python(spark, sf_dir):
    import math
    from collections import Counter

    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        _ENT_COLS,
        _ENT_SCALE,
        part_attribute_entropy,
    )
    from big_data_assignment2_2025_spark.sources.readers import load_table

    got = {r["column"]: r for r in part_attribute_entropy(spark, sf_dir).collect()}
    part = load_table(spark, sf_dir, "part").collect()
    for col in _ENT_COLS:
        counts = Counter(str(r[col]) for r in part)
        n = sum(counts.values())
        s_micro = sum(
            math.floor(c * math.log(c) * _ENT_SCALE + 0.5)
            for c in counts.values()
        )
        h = math.log(n) - s_micro / n / _ENT_SCALE
        r = got[col]
        assert r["n_rows"] == n and r["n_values"] == len(counts)
        assert math.isclose(r["entropy_nats"], round(h, 6), abs_tol=1e-9)
        # sanity: entropy within [0, ln(n_values)]
        assert 0 <= r["entropy_nats"] <= math.log(len(counts)) + 1e-9


def test_link_prediction_excludes_existing_edges(spark, sf_dir):
    from big_data_assignment2_2025_spark.plans.graph_queries import (
        _copurchase_edges,
        graph_link_prediction,
    )

    rows = graph_link_prediction(spark, sf_dir).collect()
    assert len(rows) > 0
    edges = {
        (r["u"], r["v"]) for r in _copurchase_edges(spark, sf_dir).collect()
    }
    for r in rows:
        assert r["a"] < r["b"]
        assert (r["a"], r["b"]) not in edges  # predicted, not existing
        assert r["cn"] >= 1
        assert 0 < r["cn_jaccard"] <= 1


def test_linear_attribution_conserves_value(spark, sf_dir):
    """Every touched purchase's value must be fully distributed: sum of
    per-day credit == sum of v_micros over purchases with >= 1 touch."""
    from pyspark.sql import functions as F

    from big_data_assignment2_2025_spark.plans.events_queries import (
        _LIN_BAND_US,
        events_attribution_linear,
    )
    from big_data_assignment2_2025_spark.sources.readers import load_table

    rows = events_attribution_linear(spark, sf_dir).collect()
    assert len(rows) > 0
    total_credit = sum(r["credit_value_micros"] for r in rows)

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    clk = ev.where(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us")
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_us"),
        F.expr("CAST(round(CAST(value AS DOUBLE) * 1e6) AS BIGINT)").alias(
            "v_micros"
        ),
    )
    touched = (
        pur.join(clk, "user_id")
        .where(
            (F.col("p_us") - F.col("c_us") >= 0)
            & (F.col("p_us") - F.col("c_us") <= _LIN_BAND_US)
        )
        .select("purchase_id", "v_micros")
        .distinct()
    )
    want = touched.agg(F.sum("v_micros")).collect()[0][0]
    assert total_credit == want


def test_streaming_pattern_match_equals_batch(spark, sf_dir):
    from big_data_assignment2_2025_spark.plans.events_queries import (
        events_pattern_match,
    )
    from big_data_assignment2_2025_spark.plans.streaming_queries import (
        streaming_pattern_match,
    )

    got = {
        (r["user_id"], str(r["day"])): (r["seq_len"], r["n_matches"])
        for r in streaming_pattern_match(spark, sf_dir).collect()
    }
    want = {
        (r["user_id"], str(r["day"])): (r["seq_len"], r["n_matches"])
        for r in events_pattern_match(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_cumulative_users_is_monotone_and_final_total(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_data_assignment2_2025_spark.plans.timeseries_queries import (
        events_cumulative_users,
    )
    from big_data_assignment2_2025_spark.sources.readers import load_table

    rows = events_cumulative_users(spark, sf_dir).collect()
    assert len(rows) > 0
    cums = [r["cumulative_users"] for r in rows]
    assert cums == sorted(cums)  # monotone non-decreasing
    total = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    assert cums[-1] == total
    assert sum(r["new_users"] for r in rows) == total


def test_dau_rollup_grains_are_consistent(spark, sf_dir):
    """Register-max mergeability: a month's estimate must be >= any of its
    days' estimates (registers only grow under max-merge), and the three
    grains partition the same day set."""
    from collections import defaultdict

    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        events_dau_rollup_hll,
    )

    rows = events_dau_rollup_hll(spark, sf_dir).collect()
    by_grain = defaultdict(list)
    for r in rows:
        by_grain[r["grain"]].append(r)
    assert set(by_grain) == {"day", "week", "month"}
    month_est = {
        str(r["period_start"]): r["dau_hll_micro"] for r in by_grain["month"]
    }
    for d in by_grain["day"]:
        mkey = str(d["period_start"])[:8] + "01"
        assert month_est[mkey] >= d["dau_hll_micro"] * 0.999
