"""Round-7h: drawdown, churn accounting, k-anonymity, segment PMI."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.relational import customer_k_anonymity_audit
from big_data_assignment2_2025_spark.plans.events_queries import (
    events_day_churn,
    events_segment_pmi,
)
from big_data_assignment2_2025_spark.plans.timeseries_queries import (
    orders_revenue_drawdown,
)
from big_data_assignment2_2025_spark.sources.readers import load_table


def test_drawdown_invariants(spark, sf_dir):
    rows = orders_revenue_drawdown(spark, sf_dir).collect()
    assert len(rows) > 0
    peak = 0
    cum = 0
    for r in rows:
        cum += r["rev_micros"]
        peak = max(peak, cum)
        assert r["cum_micros"] == cum
        assert r["peak_micros"] == peak
        assert r["drawdown_micros"] == peak - cum
        assert r["drawdown_micros"] >= 0


def test_day_churn_balances(spark, sf_dir):
    """retained(d) + new_or_returning(d) == actives(d), and
    retained(d) + churned(d) == actives(d-1)."""
    import datetime as dt

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    actives = {
        r["day"]: r["n"]
        for r in ev.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows = events_day_churn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        d = r["day"]
        prev = d - dt.timedelta(days=1)
        assert r["retained"] + r["new_or_returning"] == actives[d]
        assert r["retained"] + r["churned"] == actives[prev]


def test_k_anonymity_covers_all_customers(spark, sf_dir):
    rows = customer_k_anonymity_audit(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "customer").count()
    assert sum(r["class_size"] for r in rows) == total
    for r in rows:
        assert r["violates_k"] == (1 if r["class_size"] < 5 else 0)


def test_segment_pmi_matches_python(spark, sf_dir):
    import math
    from collections import Counter

    got = {
        (r["event_type"], r["c_mktsegment"]): (r["n_xy"], r["pmi_micro_nats"])
        for r in events_segment_pmi(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = [
        (r["event_type"], r["c_mktsegment"])
        for r in ev.join(cust, "user_id").select("event_type", "c_mktsegment").collect()
    ]
    n = len(joined)
    cells = Counter(joined)
    nx = Counter(t for t, _ in joined)
    ny = Counter(s for _, s in joined)
    for (t, s), (n_xy, pmi) in got.items():
        assert n_xy == cells[(t, s)]
        want = math.floor(
            math.log(n_xy * float(n) / (nx[t] * float(ny[s]))) * 1_000_000 + 0.5
        )
        assert pmi == want
    assert len(got) == len(cells) > 0


def test_rolling_slope_matches_python(spark, sf_dir):
    import math

    from big_data_assignment2_2025_spark.plans.timeseries_queries import (
        events_rolling_slope,
    )

    got = {str(r["day"]): r["slope_per_day"] for r in events_rolling_slope(spark, sf_dir).collect()}
    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.expr("CAST(floor(round(value,4)*10000 + 0.5) AS BIGINT)")
            ).alias("v_us")
        )
        .orderBy("day")
        .collect()
    )
    series = [(str(r["day"]), r["v_us"]) for r in daily]
    n_checked = 0
    for i in range(6, len(series)):
        ys = [series[i - 6 + x][1] for x in range(7)]
        sum_y = sum(ys)
        sum_xy = sum(x * y for x, y in enumerate(ys))
        slope = (7 * sum_xy - 21 * sum_y) / 196.0
        assert math.isclose(
            got[series[i][0]], round(slope / 10000.0, 6), abs_tol=1e-9
        )
        n_checked += 1
    assert n_checked == len(got) > 0
