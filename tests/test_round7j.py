"""Invariant tests for the round-7j tranche (plans/events_queries.py,
plans/timeseries_queries.py, plans/temporal_queries.py, plans/relational.py):
Markov transitions, daily ACF, median/MAD anomaly, TWAP, interval merge,
SCD Type-2 history.

The hash-gate against DuckDB lives in the driver/oracle_check; these
tests pin the semantic invariants (Python re-derivations on the small
fixture) that survive fixture regeneration.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.temporal_queries import (
    _INTERVAL_US,
    events_interval_merge,
)
from big_data_assignment2_2025_spark.plans.timeseries_queries import (
    _MAD_K10K,
    events_acf_daily,
    events_mad_anomaly,
    events_twap_daily,
)
from big_data_assignment2_2025_spark.plans.events_queries import (
    events_markov_transitions,
)
from big_data_assignment2_2025_spark.plans.relational import orders_scd2_history
from big_data_assignment2_2025_spark.sources.readers import load_table


def _scaled(v: float) -> int:
    return math.floor(round(v, 4) * 10_000 + 0.5)


def _daily(spark, sf_dir) -> dict:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(F.to_date("ts").alias("day"), "value")
        .collect()
    )
    daily: dict = defaultdict(int)
    for r in ev:
        daily[str(r["day"])] += _scaled(r["value"])
    return dict(daily)


# --------------------------------------------------------------------------
# Markov transitions
# --------------------------------------------------------------------------


def test_markov_python_recount(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    seqs: dict = defaultdict(list)
    for r in ev:
        seqs[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    pair_n: dict = defaultdict(int)
    from_n: dict = defaultdict(int)
    for rows in seqs.values():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            pair_n[(a, b)] += 1
            from_n[a] += 1
    got = events_markov_transitions(spark, sf_dir).collect()
    assert {(r["event_type"], r["next_type"]) for r in got} == set(pair_n)
    for r in got:
        k = (r["event_type"], r["next_type"])
        assert r["n_pair"] == pair_n[k]
        assert r["n_from"] == from_n[k[0]]
        assert r["p_micros"] == math.floor(
            float(pair_n[k]) * 1_000_000 / from_n[k[0]] + 0.5
        )


def test_markov_rows_sum_to_one(spark, sf_dir):
    """Per current type, Σ n_pair == n_from (probabilities normalize)."""
    got = events_markov_transitions(spark, sf_dir).collect()
    by_from: dict = defaultdict(lambda: [0, None])
    for r in got:
        by_from[r["event_type"]][0] += r["n_pair"]
        by_from[r["event_type"]][1] = r["n_from"]
    for tot, n_from in by_from.values():
        assert tot == n_from


# --------------------------------------------------------------------------
# ACF
# --------------------------------------------------------------------------


def test_acf_python_rederivation(spark, sf_dir):
    daily = sorted(_daily(spark, sf_dir).items())
    vs = [v for _, v in daily]
    n, total = len(vs), sum(vs)
    dev = [n * v - total for v in vs]  # exact ints (Python arbitrary precision)
    den = sum(d * d for d in dev)
    got = events_acf_daily(spark, sf_dir).collect()
    assert [r["lag_k"] for r in got] == list(range(1, 8))
    for r in got:
        k = r["lag_k"]
        assert r["n_pairs"] == n - k
        num = sum(dev[t] * dev[t + k] for t in range(n - k))
        expect = math.floor(float(num) / float(den) * 1_000_000 + 0.5)
        assert r["acf_micros"] == expect, k
    # lag-0 analogue: den/den == 1; every |acf| is bounded-ish (Cauchy-
    # Schwarz gives |acf_k| <= 1 exactly for the n-scaled spelling)
    assert all(abs(r["acf_micros"]) <= 1_000_000 for r in got)


# --------------------------------------------------------------------------
# median/MAD
# --------------------------------------------------------------------------


def test_mad_python_rederivation(spark, sf_dir):
    daily = _daily(spark, sf_dir)
    pairs = sorted(daily.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(pairs)
    med = pairs[(n + 1) // 2 - 1][1]
    devs = sorted(
        ((abs(v - med), d) for d, v in daily.items())
    )
    mad = devs[(n + 1) // 2 - 1][0]
    got = events_mad_anomaly(spark, sf_dir).collect()
    assert len(got) == n
    for r in got:
        assert r["med_us"] == med
        assert r["mad_us"] == mad
        assert r["v_us"] == daily[str(r["day"])]
        dev = abs(r["v_us"] - med)
        assert r["is_anomaly"] == int(dev * 10_000 > _MAD_K10K * mad)


# --------------------------------------------------------------------------
# TWAP
# --------------------------------------------------------------------------


def test_twap_python_rederivation(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            F.unix_micros("ts").alias("t_us"),
            "event_id",
            "value",
        )
        .collect()
    )
    by_day: dict = defaultdict(list)
    for r in ev:
        by_day[str(r["day"])].append((r["t_us"], r["event_id"], _scaled(r["value"])))
    got = {str(r["day"]): r for r in events_twap_daily(spark, sf_dir).collect()}
    assert set(got) == set(by_day)
    day_us = 86_400 * 1_000_000
    for day, obs in by_day.items():
        obs.sort()
        midnight_next = (obs[0][0] // day_us + 1) * day_us
        sp = sd = 0
        for (t, _, v), nxt in zip(
            obs, [o[0] for o in obs[1:]] + [midnight_next]
        ):
            sp += v * (nxt - t)
            sd += nxt - t
        r = got[day]
        assert r["n_obs"] == len(obs)
        assert r["span_us"] == sd
        assert r["twap_micros"] == math.floor(float(sp) / float(sd) * 100 + 0.5)


# --------------------------------------------------------------------------
# interval merge
# --------------------------------------------------------------------------


def test_interval_merge_python_rederivation(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("s_us"), "event_id")
        .collect()
    )
    by_user: dict = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["s_us"], r["event_id"]))
    got = {r["user_id"]: r for r in events_interval_merge(spark, sf_dir).collect()}
    assert set(got) == set(by_user)
    for uid, rows in by_user.items():
        rows.sort()
        islands = []
        for s, _ in rows:
            e = s + _INTERVAL_US
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        assert got[uid]["n_islands"] == len(islands)
        assert got[uid]["covered_us"] == sum(e - s for s, e in islands)


# --------------------------------------------------------------------------
# SCD2
# --------------------------------------------------------------------------


def test_scd2_invariants(spark, sf_dir):
    rows = orders_scd2_history(spark, sf_dir).collect()
    n_orders_tbl = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n_orders"] for r in rows) == n_orders_tbl
    by_cust: dict = defaultdict(list)
    for r in rows:
        by_cust[r["o_custkey"]].append(r)
    for recs in by_cust.values():
        recs.sort(key=lambda r: r["version"])
        # versions are contiguous from 1
        assert [r["version"] for r in recs] == list(range(1, len(recs) + 1))
        # exactly one open (current) row, and it is the last
        assert [r["is_current"] for r in recs] == [0] * (len(recs) - 1) + [1]
        for a, b in zip(recs, recs[1:]):
            # half-open chain: valid_to = successor's valid_from
            assert a["valid_to"] == b["valid_from"]
            # a run ends only when the status actually changes
            assert a["o_orderstatus"] != b["o_orderstatus"]
            assert a["valid_from"] <= a["valid_to"]
        assert recs[-1]["valid_to"] is None


def test_scd2_matches_python_runs(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus"
    ).collect()
    by_cust: dict = defaultdict(list)
    for r in o:
        by_cust[r["o_custkey"]].append(
            (r["o_orderdate"], r["o_orderkey"], r["o_orderstatus"])
        )
    expect: dict = {}
    for cust, rows in by_cust.items():
        rows.sort()
        runs = []
        for d, _, s in rows:
            if not runs or runs[-1][0] != s:
                runs.append([s, d, 1])
            else:
                runs[-1][2] += 1
        expect[cust] = runs
    got: dict = defaultdict(list)
    for r in orders_scd2_history(spark, sf_dir).collect():
        got[r["o_custkey"]].append(
            [r["o_orderstatus"], r["valid_from"], r["n_orders"]]
        )
    assert got == expect
