"""connected_components (operators/graph.py): hand-built graphs with known
components, including the worst case for min-label propagation (a long chain,
where convergence takes ~diameter rounds)."""

import pytest

from big_data_assignment2_2025_spark.operators.graph import connected_components


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["doc1", "doc2"])
    rows = connected_components(df, **kw).collect()
    return {r["node"]: r["component"] for r in rows}


def test_two_components_and_transitivity(spark):
    # 1-2, 2-3 (transitive: 3 joins 1's cluster without a 1-3 edge); 10-11
    got = _components(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # path 0-1-2-...-12: diameter 12, single component labeled 0
    edges = [(i, i + 1) for i in range(12)]
    got = _components(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_edge_direction_irrelevant(spark):
    # min id appears on the dst side; symmetrization must still propagate it
    got = _components(spark, [(5, 1), (5, 9)])
    assert got == {1: 1, 5: 1, 9: 1}


def test_isolated_nodes_absent(spark):
    got = _components(spark, [(7, 8)])
    assert 99 not in got and got == {7: 7, 8: 7}


def test_max_iter_caps_rounds(spark):
    # with max_iter=1 the far end of a chain cannot have reached label 0 yet
    edges = [(i, i + 1) for i in range(6)]
    got = _components(spark, edges, max_iter=1)
    assert got[6] != 0  # not yet converged — cap respected


def _stored_rdds(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_rounds_free_their_checkpoints(spark):
    """Each round's label checkpoint is freed once the next round is
    computed, and the edge list when the loop ends: after a multi-round run
    the executors hold exactly one new RDD, the returned labels."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["doc1", "doc2"]
    )
    before = _stored_rdds(spark)
    labels = connected_components(edges)  # a 6-hop chain: >= 6 rounds
    assert len(_stored_rdds(spark) - before) == 1
    assert {r["component"] for r in labels.collect()} == {0}


def test_reliable_checkpoint_path_matches_local(spark, tmp_path):
    """checkpoint_dir switches the per-round lineage truncation to
    reliable FS checkpoints (the cluster deployment mode, SCALING §10):
    results must be identical to the localCheckpoint path, and the
    checkpoint dir must actually receive RDD checkpoint data."""
    import os

    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
    base = _components(spark, edges)
    ckpt_dir = str(tmp_path / "cc_ckpt")
    reliable = _components(spark, edges, checkpoint_dir=f"file://{ckpt_dir}")
    assert reliable == base
    # the reliable path must have *persisted* rounds to the FS dir
    written = []
    for root, _dirs, files in os.walk(ckpt_dir):
        written.extend(os.path.join(root, f) for f in files)
    assert written, "reliable checkpoint dir received no checkpoint data"


def test_kcore_reliable_checkpoint_matches_local(spark, tmp_path):
    """graph_kcore_peel through the reliable-checkpoint path returns the
    same per-round survivor counts as the (oracle-gated) default path."""
    import os

    from big_data_assignment2_2025_spark.plans.graph_queries import (
        graph_kcore_peel,
    )
    from tests.conftest import SF_SMALL

    base = sorted(
        (r["round"], r["n_nodes"], r["n_edges"])
        for r in graph_kcore_peel(spark, SF_SMALL).collect()
    )
    ckpt_dir = str(tmp_path / "kcore_ckpt")
    reliable = sorted(
        (r["round"], r["n_nodes"], r["n_edges"])
        for r in graph_kcore_peel(
            spark, SF_SMALL, checkpoint_dir=f"file://{ckpt_dir}"
        ).collect()
    )
    assert reliable == base
    written = []
    for root, _dirs, files in os.walk(ckpt_dir):
        written.extend(os.path.join(root, f) for f in files)
    assert written, "reliable checkpoint dir received no checkpoint data"
