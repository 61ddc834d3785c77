"""The session factory's defaults, checked without starting a session."""

from __future__ import annotations

import os

from big_data_assignment2_2025_spark.session import default_cpus


def test_default_cpus_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == str(len(os.sched_getaffinity(0)))


def test_default_cpus_take_the_pinned_count(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"
