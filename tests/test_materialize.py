"""``operators/materialize`` is the one way the package computes a frame
once: no registry query leaves a relation in the CacheManager (where the
next identical plan would be served from it), a ``materialized`` block
frees its blocks on exit, and no other module persists, caches or
checkpoints a frame."""

from __future__ import annotations

import ast
import os

import pytest

from big_data_assignment2_2025_spark.operators.materialize import materialized

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "big_data_assignment2_2025_spark")
HELPER = os.path.join(PACKAGE, "operators", "materialize.py")
MATERIALIZING_CALLS = {"persist", "cache", "unpersist", "localCheckpoint", "checkpoint"}


def test_only_the_helper_materializes_a_frame():
    found = []
    for root, _dirs, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == HELPER:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in MATERIALIZING_CALLS
                ) or (
                    isinstance(node, ast.ImportFrom)
                    and any(a.name == "StorageLevel" for a in node.names)
                ):
                    found.append(f"{os.path.relpath(path, PACKAGE)}:{node.lineno}")
    assert found == []


@pytest.mark.parametrize(
    "name",
    [
        "bm25_search",
        "index_term_freq",
        "dedup_minhash_lsh",
        "graph_triangle_count",
        "text_bigram_lm_score",
        "events_dau_rollup_hll",
    ],
)
def test_registry_query_leaves_the_cache_empty(spark, sf_dir, name):
    """One query per family that used to persist: after ``collect()`` the
    CacheManager holds nothing the next identical plan could match."""
    from big_data_assignment2_2025_spark.plans import QUERIES

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    QUERIES[name](spark, sf_dir).collect()
    assert cache.isEmpty()


def test_materialized_frees_its_blocks_on_exit(spark):
    """Inside the block the frame's blocks are stored; on exit they are
    gone, and a later action fails loudly instead of recomputing."""
    storage = spark.sparkContext._jsc.sc()

    def stored(frame):
        rdd = frame._jdf.queryExecution().analyzed().rdd().id()
        return any(info.id() == rdd for info in storage.getRDDStorageInfo())

    df = spark.range(1000).selectExpr("id % 13 AS k").groupBy("k").count()
    with materialized(df) as frame:
        assert stored(frame)
        assert frame.count() == 13
    assert not stored(frame)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        frame.count()


def test_bench_refuses_a_query_that_leaves_the_cache(spark, sf_dir, monkeypatch):
    """A query whose cached relations would serve its next timed run makes
    ``bench._time_pass`` raise, naming the query."""
    import bench
    from big_data_assignment2_2025_spark import plans

    monkeypatch.setitem(plans.QUERIES, "leaky_query", lambda s, _sf: s.range(3).persist())
    try:
        with pytest.raises(RuntimeError, match="leaky_query"):
            bench._time_pass(spark, sf_dir, ["leaky_query"], 2)
    finally:
        spark.catalog.clearCache()
