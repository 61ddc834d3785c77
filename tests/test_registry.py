"""The query registry's shape: one module per domain, every module that
declares queries is registered, and a name declared twice is refused."""

from __future__ import annotations

import ast
import fnmatch
import os
import types

import pytest

from big_data_assignment2_2025_spark.plans import registry

PLANS_DIR = os.path.dirname(registry.__file__)


def _plan_modules():
    return sorted(
        f[:-3]
        for f in os.listdir(PLANS_DIR)
        if f.endswith(".py") and f not in ("__init__.py", "registry.py")
    )


def _declares_queries(name: str) -> bool:
    tree = ast.parse(open(os.path.join(PLANS_DIR, name + ".py")).read())
    return any(
        isinstance(n, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "QUERIES" for t in n.targets)
        for n in tree.body
    )


def test_duplicate_query_name_raises_naming_both_modules():
    a = types.SimpleNamespace(__name__="plans.a", QUERIES={"q": 1, "x": 2})
    b = types.SimpleNamespace(__name__="plans.b", QUERIES={"q": 3})
    with pytest.raises(ValueError, match=r"'q'.*plans\.a.*plans\.b"):
        registry._merge([a, b], "QUERIES")


def test_merge_keeps_every_distinct_name():
    a = types.SimpleNamespace(__name__="plans.a", ORACLES={"q": "SELECT 1"})
    b = types.SimpleNamespace(__name__="plans.b")
    assert registry._merge([a, b], "ORACLES") == {"q": "SELECT 1"}


def test_every_module_declaring_queries_is_registered():
    declared = {m for m in _plan_modules() if _declares_queries(m)}
    registered = {m.__name__.rsplit(".", 1)[1] for m in registry._MODULES}
    assert declared == registered


def test_modules_are_named_by_domain():
    for name in _plan_modules():
        for pattern in ("round*", "*2", "*3", "parity*", "pipeline*"):
            assert not fnmatch.fnmatch(name, pattern), (name, pattern)
    assert len(registry._MODULES) <= 16
