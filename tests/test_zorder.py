"""Z-order clustering (functions/zorder.py + the round-9 staged store):
Morton-key bit math vs a python recompute, per-coordinate monotonicity
(the property the box→z-range prune rests on), and REAL file skipping —
a corner box must leave most of the z-clustered store's members unopened."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.functions.zorder import zorder_key2
from big_data_assignment2_2025_spark.plans.storage_queries import (
    _staged_zorder_store,
    _zkey_py,
    storage_zorder_box_read,
)
from big_data_assignment2_2025_spark.sources.readers import load_table
from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore


def test_zorder_key_matches_python(spark):
    rng = random.Random(9)
    rows = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    got = (
        spark.createDataFrame(rows, "x long, y long")
        .select("x", "y", zorder_key2("x", "y").alias("z"))
        .collect()
    )
    for r in got:
        assert r.z == _zkey_py(r.x, r.y), (r.x, r.y)


def test_zorder_key_monotone_per_coordinate(spark):
    """zkey(x, y) <= zkey(x', y') whenever x <= x' and y <= y' — the
    containment lemma behind pruning a box with one z-range."""
    rng = random.Random(10)
    for _ in range(500):
        x1, y1 = rng.randrange(1 << 16), rng.randrange(1 << 16)
        x2 = rng.randrange(x1, 1 << 16)
        y2 = rng.randrange(y1, 1 << 16)
        assert _zkey_py(x1, y1) <= _zkey_py(x2, y2)


def test_corner_box_prunes_most_members(spark, sf_dir):
    base = _staged_zorder_store(spark, sf_dir)
    store = SnapshotStore(base)
    members = store.manifest(store.latest_version())["members"]
    assert len(members) >= 4  # the staged layout really is multi-member
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).collect()[0]
    lo, hi = 0, _zkey_py(int(mx["p"]) // 4, int(mx["s"]) // 4) + 1
    pruned = store.read_where(spark, "zkey", lo, hi)
    opened = set(pruned.inputFiles())
    all_files = set(store.read(spark).inputFiles())
    assert opened < all_files
    # the corner box's z-range is a prefix of the curve: at most half the
    # members can overlap it (zkey(p/4, s/4) < zmax/4 by bit structure)
    assert len(opened) <= len(all_files) // 2


def test_pruned_box_read_equals_unpruned(spark, sf_dir):
    base = _staged_zorder_store(spark, sf_dir)
    store = SnapshotStore(base)
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).collect()[0]
    p2, s2 = int(mx["p"]) // 4, int(mx["s"]) // 4
    box = F.col("l_partkey").between(0, p2) & F.col("l_suppkey").between(
        0, s2
    )
    unpruned = store.read(spark).where(box).count()
    got = storage_zorder_box_read(spark, sf_dir).collect()[0]
    assert got["n_rows"] == unpruned
    src = li.where(box).count()
    assert got["n_rows"] == src  # store holds exactly the source rows
