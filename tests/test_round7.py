"""Round-7 sketch surfaces. The oracle gate pins value parity; these
tests pin what the oracle can't see: the quantile estimate's one-bin
error bound against the EXACT percentile, saturation semantics at the
domain edges, and plan shape (partial-aggregating counts, partitioned
window)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.operators.sketches import (
    hist_quantile_sketch,
)
from big_data_assignment2_2025_spark.plans.sketches_queries import (
    VALUE_BINS,
    VALUE_HI_MICRO,
    VALUE_LO_MICRO,
    events_value_quantiles_hist,
)
from big_data_assignment2_2025_spark.sources.readers import load_table
from tests.conftest import SF_SMALL

BIN_WIDTH_MICRO = (VALUE_HI_MICRO - VALUE_LO_MICRO) // VALUE_BINS


def test_hist_quantile_bin_contains_selecting_order_statistic(spark):
    """The sketch's contract is EXACT, not fuzzy: quantile p reports the
    bin holding the ceil(n*p/100)-th order statistic (clamped into the
    domain). Verified against a driver-side sort of the true values —
    the one-bin error bound versus any interpolated percentile follows."""
    got = {
        (r["event_type"], r["p_pct"]): (r["n"], r["q_lo_micro"])
        for r in events_value_quantiles_hist(spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events").where(F.col("value").isNotNull())
    by_type: dict = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(
            int(round(r["value"] * 1e6))
        )
    assert got, "sketch produced no rows"
    for vals in by_type.values():
        vals.sort()
    for (et, p), (n, q_lo) in got.items():
        vals = by_type[et]
        assert n == len(vals)
        k = -(-n * p // 100)  # ceil(n*p/100), matches (n*p+99) div 100
        stat = min(max(vals[k - 1], 0), 512_000_000 - 1)
        assert q_lo <= stat < q_lo + BIN_WIDTH_MICRO, (et, p, q_lo, stat)


def test_hist_quantile_saturates_out_of_range(spark):
    """Values outside [lo, hi) land in the end bins instead of vanishing
    or erroring — fixed-range histogram semantics."""
    df = spark.createDataFrame(
        [("g", -5.0), ("g", 1e9), ("g", 1.0)], "grp string, v double"
    )
    rows = hist_quantile_sketch(
        df, ["grp"], "v", 0, 512_000_000, 256, [50, 99]
    ).collect()
    by_p = {r["p_pct"]: r for r in rows}
    assert by_p[50]["n"] == 3
    # p50 -> 2nd value in sorted order (1.0) -> bin 0; p99 -> the
    # saturated 1e9 -> last bin
    assert by_p[50]["qbin"] == 0
    assert by_p[99]["qbin"] == 255
    assert by_p[99]["q_lo_micro"] == 255 * BIN_WIDTH_MICRO


def test_hist_counts_merge_across_splits(spark):
    """The sketch state is bin counts — additive, so the quantile over
    the full table equals the quantile computed from any partitioned
    union (here: the query is invariant to an 8-way repartition+shuffle,
    which is what 'mergeable' means operationally in Spark)."""
    ev = load_table(spark, SF_SMALL, "events")
    full = {
        (r["event_type"], r["p_pct"]): (r["n"], r["qbin"])
        for r in hist_quantile_sketch(
            ev, ["event_type"], "value", 0, 512_000_000, 256, [50, 90, 99]
        ).collect()
    }
    reparted = {
        (r["event_type"], r["p_pct"]): (r["n"], r["qbin"])
        for r in hist_quantile_sketch(
            ev.repartition(8, "value"),
            ["event_type"], "value", 0, 512_000_000, 256, [50, 90, 99],
        ).collect()
    }
    assert full == reparted


def test_rolling_hist_quantile_contains_window_order_statistic(spark):
    """Same exact contract as the per-group test, but over the 7-day
    trailing window union — proving the count-addition merge recovers the
    window's true distribution (exact quantiles cannot compose this way;
    additive counts can)."""
    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        events_rolling_quantiles_hist,
    )

    got = {
        (str(r["day"]), r["p_pct"]): (r["n"], r["q_lo_micro"])
        for r in events_rolling_quantiles_hist(spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events").where(F.col("value").isNotNull())
    by_day: dict = {}
    for r in ev.select(F.to_date("ts").alias("day"), "value").collect():
        by_day.setdefault(r["day"], []).append(int(round(r["value"] * 1e6)))
    days = sorted(by_day)
    assert got
    for (day_s, p), (n, q_lo) in got.items():
        import datetime as dt

        day = dt.date.fromisoformat(day_s)
        window = sorted(
            v
            for past in days
            if 0 <= (day - past).days <= 6
            for v in by_day[past]
        )
        assert n == len(window)
        k = -(-n * p // 100)
        stat = min(max(window[k - 1], 0), 512_000_000 - 1)
        assert q_lo <= stat < q_lo + BIN_WIDTH_MICRO, (day_s, p, q_lo, stat)


def test_audience_overlap_tracks_exact_sets(spark):
    """Inclusion-exclusion over the deterministic HLL must track the
    exact audience sets within sketch tolerance — each estimate's rsd is
    ~4.6% (p=9), and the intersection inherits error proportional to the
    UNION size (the documented caveat), so the band is on the union."""
    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        events_audience_overlap_hll,
    )

    import math

    row = events_audience_overlap_hll(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").where(F.col("user_id").isNotNull())
    view = {r["user_id"] for r in
            ev.where(F.col("event_type") == "view")
            .select("user_id").distinct().collect()}
    purchase = {r["user_id"] for r in
                ev.where(F.col("event_type") == "purchase")
                .select("user_id").distinct().collect()}
    union_n = len(view | purchase)

    def corrected(est_col, v_col, m=512):
        raw = row[est_col] / 1e6
        v = row[v_col]
        if raw <= 2.5 * m and v > 0:
            return m * math.log(m / v)
        return raw

    c_view = corrected("view_users_micro", "view_v_empty")
    c_purchase = corrected("purchase_users_micro", "purchase_v_empty")
    c_union = corrected("either_users_micro", "either_v_empty")
    band = max(10, 0.2 * union_n)
    for est, exact in (
        (c_view, len(view)),
        (c_purchase, len(purchase)),
        (c_union, union_n),
        (c_view + c_purchase - c_union, len(view & purchase)),
    ):
        assert abs(est - exact) <= band, (est, exact, band)


def test_streaming_quantiles_bit_identical_to_batch_sketch(spark):
    """The histogram counts are deterministic integers, so the streaming
    drain (update-mode log reconciled by max) must equal the per-day
    batch sketch exactly — the same lambda-reconciliation-collapses-to-
    equality property as the HLL twins."""
    from big_data_assignment2_2025_spark.streaming.stream import (
        run_streaming_value_quantiles,
    )

    ev = load_table(spark, SF_SMALL, "events").withColumn(
        "day", F.to_date("ts")
    )
    batch = {
        (str(r["day"]), r["p_pct"]): (r["n"], r["qbin"], r["q_lo_micro"])
        for r in hist_quantile_sketch(
            ev, ["day"], "value", 0, 512_000_000, 256, [50, 90, 99]
        ).collect()
    }
    stream = {
        (str(r["day"]), r["p_pct"]): (r["n"], r["qbin"], r["q_lo_micro"])
        for r in run_streaming_value_quantiles(spark, SF_SMALL).collect()
    }
    assert batch == stream


def test_bloom_has_no_false_negatives_and_sane_fp_rate(spark):
    """Row-level Bloom guarantees on the fixture: every true member
    passes the probe (no false negatives — the structural guarantee),
    and the false-positive rate stays within ~5x of the theoretical
    (1 - e^(-kn/m))^k bound."""
    import math

    from big_data_assignment2_2025_spark.operators.sketches import (
        BLOOM_K,
        BLOOM_M,
        bloom_bitmap,
        bloom_probe_flag,
    )

    cust = load_table(spark, SF_SMALL, "customer")
    orders = load_table(spark, SF_SMALL, "orders")
    seg = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    keys = {r["c_custkey"] for r in seg.distinct().collect()}
    bm = bloom_bitmap(seg, "c_custkey")
    probed = bloom_probe_flag(orders.select("o_custkey"), "o_custkey", bm)
    rows = probed.collect()
    assert rows
    n_fp = 0
    for r in rows:
        if r["o_custkey"] in keys:
            assert r["bloom_pass"], f"FALSE NEGATIVE for {r['o_custkey']}"
        elif r["bloom_pass"]:
            n_fp += 1
    n_nonmember = sum(1 for r in rows if r["o_custkey"] not in keys)
    theo = (1.0 - math.exp(-BLOOM_K * len(keys) / BLOOM_M)) ** BLOOM_K
    assert n_fp <= max(5, 5 * theo * n_nonmember), (n_fp, theo, n_nonmember)


def test_bloom_probe_side_never_shuffles(spark):
    """The probe is a pure codegen expression over the literal bitmap
    map — the probe plan contains NO join and NO exchange of any kind
    (the bitmap build ran once, at collect time)."""
    from big_data_assignment2_2025_spark.operators.sketches import (
        bloom_bitmap,
        bloom_probe_flag,
    )

    cust = load_table(spark, SF_SMALL, "customer")
    orders = load_table(spark, SF_SMALL, "orders")
    seg = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    probed = bloom_probe_flag(
        orders.select("o_custkey"), "o_custkey", bloom_bitmap(seg, "c_custkey")
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_distinct_profile_tracks_exact_per_column(spark):
    """One-scan profiling readout: each column's corrected estimate must
    track its exact distinct count within sketch tolerance (~4.6% rsd;
    enum-like columns land in the linear-counting regime and are near
    exact)."""
    import math

    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        PROFILE_COLS,
        lineitem_distinct_profile_hll,
    )

    got = {r["col"]: r for r in
           lineitem_distinct_profile_hll(spark, SF_SMALL).collect()}
    assert set(got) == set(PROFILE_COLS)
    li = load_table(spark, SF_SMALL, "lineitem")
    for c in PROFILE_COLS:
        exact = li.select(c).where(F.col(c).isNotNull()).distinct().count()
        raw = got[c]["n_distinct_micro"] / 1e6
        v = got[c]["v_empty"]
        est = 512 * math.log(512 / v) if (raw <= 2.5 * 512 and v > 0) else raw
        assert abs(est - exact) <= max(5, 0.2 * exact), (c, est, exact)


def test_hll_register_state_roundtrips_through_parquet(spark, tmp_path):
    """SCALING §13's 'you will eventually need to MOVE it' claim,
    exercised: day registers persisted to parquet, read back, merged with
    a later batch's registers — final state bit-equal to a recompute over
    the union. This is the incremental daily-drop shape for sketches
    (history state is ~days x 512 rows; the new day never rescans it)."""
    from big_data_assignment2_2025_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    days = sorted(r["day"] for r in ev.select("day").distinct().collect())
    cutoff = days[len(days) // 2]
    hist, batch = ev.where(F.col("day") < F.lit(cutoff)), ev.where(
        F.col("day") >= F.lit(cutoff)
    )
    state_path = str(tmp_path / "hll_state")
    hll_registers(hist, ["day"], "user_id").write.parquet(state_path)

    restored = spark.read.parquet(state_path)
    merged = hll_merge(
        restored.unionAll(hll_registers(batch, ["day"], "user_id")), ["day"]
    )
    full = hll_registers(ev, ["day"], "user_id")
    to_set = lambda df: {(str(r["day"]), r["bucket"], r["r"])
                         for r in df.collect()}
    assert to_set(merged) == to_set(full)


def test_cms_never_undercounts_and_bounds_overcount(spark):
    """The CMS one-sided guarantee row by row: est >= true ALWAYS (the
    structural property), and the overcount stays within a generous
    multiple of the expected collision mass n/w per row."""
    from big_data_assignment2_2025_spark.operators.sketches import (
        CMS_WIDTH,
        cms_counters,
        cms_estimate_for_keys,
    )

    ev = load_table(spark, SF_SMALL, "events")
    n = ev.where(F.col("user_id").isNotNull()).count()
    counters = cms_counters(ev, "user_id")
    # estimate EVERY distinct user, not just a watchlist — the guarantee
    # must hold pointwise
    keys = ev.select("user_id").where(F.col("user_id").isNotNull()).distinct()
    est = {r["user_id"]: r["est_cnt"]
           for r in cms_estimate_for_keys(counters, keys, "user_id").collect()}
    true = {r["user_id"]: r["cnt"]
            for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
            .collect() if r["user_id"] is not None}
    assert set(est) == set(true)
    slack = max(20, 10 * n // CMS_WIDTH)
    for u, t in true.items():
        assert est[u] >= t, f"CMS undercounted user {u}: {est[u]} < {t}"
        assert est[u] <= t + slack, (u, est[u], t, slack)


def test_cms_estimate_keys_contract_duplicates_collapse(spark):
    """r14 (ADVICE): cms_estimate_for_keys groupBys the keys frame's
    columns, so its contract requires UNIQUE watchlist rows — an
    accidental duplicate silently collapses to one output row instead of
    erroring. Pin that behavior loudly here so a caller change that
    starts passing dup rows trips this test's expectations rather than
    shipping a row-count surprise: output rows == DISTINCT input rows,
    and each key's estimate is unaffected by duplication."""
    from big_data_assignment2_2025_spark.operators.sketches import (
        cms_counters,
        cms_estimate_for_keys,
    )

    ev = load_table(spark, SF_SMALL, "events")
    counters = cms_counters(ev, "user_id")
    some = [r["user_id"] for r in ev.select("user_id").where(
        F.col("user_id").isNotNull()).distinct().limit(3).collect()]
    uniq = spark.createDataFrame([(u,) for u in some], "user_id long")
    dup = uniq.unionAll(uniq)
    est_u = {r["user_id"]: r["est_cnt"]
             for r in cms_estimate_for_keys(counters, uniq, "user_id").collect()}
    est_d = {r["user_id"]: r["est_cnt"]
             for r in cms_estimate_for_keys(counters, dup, "user_id").collect()}
    assert est_d == est_u  # dups collapse, values unchanged
    assert cms_estimate_for_keys(counters, dup, "user_id").count() == len(some)


def test_streaming_cms_bit_identical_to_batch_daily_sketch(spark):
    """Counters are deterministic additive integers, so the streaming
    drain (update-mode log reconciled by max) must equal the per-day
    batch sketch estimates EXACTLY — and the one-sided guarantee
    est >= true must hold live, per (day, user)."""
    from big_data_assignment2_2025_spark.operators.sketches import (
        cms_counters,
        cms_estimate_for_keys,
    )
    from big_data_assignment2_2025_spark.plans.sketches_queries import CMS_WATCH_USERS
    from big_data_assignment2_2025_spark.streaming.stream import (
        run_streaming_user_freq_cms,
    )

    stream = {
        (str(r["day"]), r["user_id"]): (r["est_cnt"], r["true_cnt"])
        for r in run_streaming_user_freq_cms(spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events").withColumn(
        "day", F.to_date("ts")
    )
    # batch mirror: the same operators run day by day — slow but simple,
    # the fixture has only a handful of days
    per_day = []
    days = [r["day"] for r in ev.select("day").distinct().collect()]
    watch = spark.createDataFrame(
        [(int(u),) for u in CMS_WATCH_USERS], "user_id long"
    )
    for d in days:
        day_ev = ev.where(F.col("day") == F.lit(d))
        cts = cms_counters(day_ev, "user_id")
        for r in cms_estimate_for_keys(cts, watch, "user_id").collect():
            per_day.append(((str(d), r["user_id"]), r["est_cnt"]))
    batch = dict(per_day)
    assert set(stream) == set(batch)
    for k, (est, true) in stream.items():
        assert est == batch[k], (k, est, batch[k])
        assert est >= true, f"CMS undercounted {k}: {est} < {true}"


def test_kmv_merge_of_halves_equals_full_sketch(spark):
    """The KMV merge law, bit-for-bit: k-smallest of (k-smallest(A) union
    k-smallest(B)) over an arbitrary split equals the sketch of the whole
    — the property that makes the <=k-row sample the thing you persist
    and ship instead of re-scanning history."""
    from big_data_assignment2_2025_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch,
    )

    ev = load_table(spark, SF_SMALL, "events")
    full = {r["h"] for r in kmv_sketch(ev, [], "user_id").collect()}
    a = kmv_sketch(ev.where(F.col("event_id") % 2 == 0), [], "user_id")
    b = kmv_sketch(ev.where(F.col("event_id") % 2 == 1), [], "user_id")
    merged = {r["h"] for r in kmv_merge(a.unionAll(b), []).collect()}
    assert merged == full


def test_kmv_audience_exact_when_distinct_below_k(spark):
    """With fewer than k=256 distinct users per segment the samples are
    COMPLETE, so every estimate must equal the exact set-op answer times
    1e6 — including the set differences HLL cannot produce at all."""
    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        events_audience_diff_kmv,
    )

    ev = load_table(spark, SF_SMALL, "events").where(
        F.col("user_id").isNotNull()
    )
    view = {
        r["user_id"]
        for r in ev.where(F.col("event_type") == "view")
        .select("user_id").distinct().collect()
    }
    purchase = {
        r["user_id"]
        for r in ev.where(F.col("event_type") == "purchase")
        .select("user_id").distinct().collect()
    }
    assert len(view) < 256 and len(purchase) < 256, "fixture regime changed"
    row = events_audience_diff_kmv(spark, SF_SMALL).collect()[0]
    assert row["view_sample_n"] == len(view)
    assert row["purchase_sample_n"] == len(purchase)
    assert row["view_users_micro"] == len(view) * 1_000_000
    assert row["purchase_users_micro"] == len(purchase) * 1_000_000
    assert row["either_users_micro"] == len(view | purchase) * 1_000_000
    assert row["both_users_micro"] == len(view & purchase) * 1_000_000
    assert row["view_only_users_micro"] == len(view - purchase) * 1_000_000
    assert row["purchase_only_users_micro"] == (
        len(purchase - view) * 1_000_000
    )


def test_kmv_audience_accuracy_at_truncating_scale(spark):
    """At sf0.01 the samples truncate (distinct users >> k); every
    estimate must land within a generous multiple of the theoretical
    rsd ~ 1/sqrt(k-1) of the UNION size (intersection/difference error
    scales with the union for theta sketches, like HLL's
    inclusion-exclusion)."""
    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        events_audience_diff_kmv,
    )

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events").where(F.col("user_id").isNotNull())
    view = {
        r["user_id"]
        for r in ev.where(F.col("event_type") == "view")
        .select("user_id").distinct().collect()
    }
    purchase = {
        r["user_id"]
        for r in ev.where(F.col("event_type") == "purchase")
        .select("user_id").distinct().collect()
    }
    row = events_audience_diff_kmv(spark, sf).collect()[0]
    union_n = len(view | purchase)
    band = max(10.0, 5 * union_n / (255 ** 0.5))  # 5 x rsd of the union
    for col, exact in (
        ("view_users_micro", len(view)),
        ("purchase_users_micro", len(purchase)),
        ("either_users_micro", union_n),
        ("both_users_micro", len(view & purchase)),
        ("view_only_users_micro", len(view - purchase)),
        ("purchase_only_users_micro", len(purchase - view)),
    ):
        est = row[col] / 1e6
        assert abs(est - exact) <= band, (col, est, exact, band)


def test_kmv_build_plan_is_window_group_limited(spark):
    """The k-smallest re-rank must be WindowGroupLimit-pruned (each task
    forwards <= k rows per group below the window exchange) — without
    the rewrite the full distinct dimension crosses the window shuffle."""
    from big_data_assignment2_2025_spark.operators.sketches import kmv_sketch

    ev = load_table(spark, SF_SMALL, "events")
    plan = (
        kmv_sketch(ev, ["event_type"], "user_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_cms_counters_merge_by_addition(spark):
    """Sketch merge = element-wise counter sum: counters built on two
    disjoint halves, summed, equal the single-pass counters."""
    from big_data_assignment2_2025_spark.operators.sketches import cms_counters

    ev = load_table(spark, SF_SMALL, "events")
    a = cms_counters(ev.where(F.col("event_id") % 2 == 0), "user_id")
    b = cms_counters(ev.where(F.col("event_id") % 2 == 1), "user_id")
    merged = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in a.unionAll(b).groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt")).collect()
    }
    full = {(r["row"], r["bucket"]): r["cnt"]
            for r in cms_counters(ev, "user_id").collect()}
    assert merged == full


def test_hist_rejects_non_integral_bin_width(spark):
    import pytest

    ev = load_table(spark, SF_SMALL, "events")
    with pytest.raises(ValueError, match="divisible"):
        hist_quantile_sketch(ev, ["event_type"], "value", 0, 1000, 3, [50])
