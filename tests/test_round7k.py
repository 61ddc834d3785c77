"""Invariant tests for the round-7k tranche (plans/events_queries.py,
plans/graph_queries.py): Kaplan-Meier survival and LPA-community modularity.

The hash-gate against DuckDB lives in the driver/oracle_check; these
tests pin the semantic invariants (Python re-derivations on the small
fixture) that survive fixture regeneration.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.events_queries import events_survival_km
from big_data_assignment2_2025_spark.plans.graph_queries import (
    _copurchase_edges,
    graph_label_propagation,
    graph_modularity,
)
from big_data_assignment2_2025_spark.sources.readers import load_table


def test_km_python_rederivation(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
        .collect()
    )
    spans: dict = {}
    for r in ev:
        f, l = spans.get(r["user_id"], (r["day"], r["day"]))
        spans[r["user_id"]] = (min(f, r["day"]), max(l, r["day"]))
    max_day = max(l for _, l in spans.values())
    d_t: dict = defaultdict(int)
    c_t: dict = defaultdict(int)
    for f, l in spans.values():
        t = (l - f).days
        if l == max_day:
            c_t[t] += 1
        else:
            d_t[t] += 1
    rows = events_survival_km(spark, sf_dir).collect()
    assert [r["t"] for r in rows] == sorted(set(d_t) | set(c_t))
    n_risk = len(spans)
    log_nanos = 0
    dead = False
    for r in rows:
        t = r["t"]
        assert r["d_churn"] == d_t.get(t, 0)
        assert r["c_censored"] == c_t.get(t, 0)
        assert r["n_risk"] == n_risk
        assert r["hazard_micros"] == math.floor(
            float(d_t.get(t, 0)) / n_risk * 1_000_000 + 0.5
        )
        d = d_t.get(t, 0)
        if d >= n_risk and d > 0:
            dead = True
        elif d > 0:
            log_nanos += math.floor(
                math.log(1.0 - float(d) / n_risk) * 1_000_000_000 + 0.5
            )
        if dead:
            assert r["survival_micros"] == 0
        else:
            assert r["survival_micros"] == math.floor(
                math.exp(float(log_nanos) / 1_000_000_000) * 1_000_000 + 0.5
            )
        n_risk -= d + c_t.get(t, 0)
    assert n_risk == 0


def test_km_survival_monotone_nonincreasing(spark, sf_dir):
    rows = events_survival_km(spark, sf_dir).collect()
    surv = [r["survival_micros"] for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert all(0 <= s <= 1_000_000 for s in surv)


def test_modularity_python_rederivation(spark, sf_dir):
    edges = [(r["u"], r["v"]) for r in _copurchase_edges(spark, sf_dir).collect()]
    labels = {
        r["node"]: r["label"]
        for r in graph_label_propagation(spark, sf_dir).collect()
    }
    m = len(edges)
    l_c: dict = defaultdict(int)
    deg: dict = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
        if labels[u] == labels[v]:
            l_c[labels[u]] += 1
    d_c: dict = defaultdict(int)
    n_c: dict = defaultdict(int)
    for node, lab in labels.items():
        d_c[lab] += deg[node]
        n_c[lab] += 1
    rows = graph_modularity(spark, sf_dir).collect()
    assert {r["label"] for r in rows} == set(n_c)
    for r in rows:
        lab = r["label"]
        assert r["n_nodes"] == n_c[lab]
        assert r["l_intra"] == l_c.get(lab, 0)
        assert r["d_sum"] == d_c[lab]
        num = 4 * m * l_c.get(lab, 0) - d_c[lab] ** 2
        assert r["q_micros"] == math.floor(
            float(num) / float(4 * m * m) * 1_000_000 + 0.5
        )
    # global identities: sum of D_c = 2m; sum of L_c <= m
    assert sum(r["d_sum"] for r in rows) == 2 * m
    assert sum(r["l_intra"] for r in rows) <= m
    # total modularity is within [-0.5, 1] (Newman bound), in micros
    q_total = sum(r["q_micros"] for r in rows)
    assert -500_000 - len(rows) <= q_total <= 1_000_000 + len(rows)
