"""Small-file compaction (``SnapshotStore.compact_small``): greedy
size-binned rewrite of undersized members only — Delta OPTIMIZE /
Iceberg rewrite_data_files with a size filter, the operational verb for
streaming-ingest file sprawl. Cross-engine gate:
``storage_compact_small`` in plans/snapshot_queries.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def _sprawl_store(spark, sf_dir, tmp_path, n=6):
    """n small appends (streaming-trickle shape)."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    for i in range(n):
        st.commit(
            orders.where(F.col("o_orderkey") % n == i),
            mode="append" if i else "overwrite",
            stats_cols=["o_orderkey"],
        )
    return st, orders


def test_compact_small_bins_and_preserves_rows(spark, sf_dir, tmp_path):
    st, orders = _sprawl_store(spark, sf_dir, tmp_path)
    before = st.manifest(st.latest_version())
    assert len(before["members"]) == 6
    want = orders.count()
    v = st.compact_small(spark, target_bytes=1 << 31)
    doc = st.manifest(v)
    assert doc["mode"] == "compact_small"
    assert sorted(doc["rewrote"]) == sorted(before["members"])
    assert len(doc["added"]) >= 1 and len(doc["members"]) < 6
    got = st.read(spark)
    assert got.count() == want
    assert (
        got.agg(F.sum("o_orderkey")).first()[0]
        == orders.agg(F.sum("o_orderkey")).first()[0]
    )
    # stats survive the rewrite (recomputed for the new members)
    assert all("o_orderkey" in s for s in doc["stats"].values())
    # time travel still serves the pre-compaction member list
    assert st.read(spark, v - 1).count() == want


def test_compact_small_respects_target_and_keeps_large(
    spark, sf_dir, tmp_path
):
    st, orders = _sprawl_store(spark, sf_dir, tmp_path)
    sizes = st.member_bytes()
    # pick a target that makes every member "small" but only ~2 fit a bin
    target = int(max(sizes.values()) * 2.5)
    v = st.compact_small(spark, target_bytes=target)
    doc = st.manifest(v)
    assert len(doc["added"]) >= 2  # multiple bins, not one megafile
    # every new member is near-or-under the bin target (parquet re-
    # encoding can shrink, never balloon, these uniform rows)
    for m, b in st.member_bytes(v).items():
        assert b <= target * 1.5, (m, b, target)
    # a LARGE member is untouched: re-sprawl then mark one as large by
    # lowering the threshold under it
    sizes2 = st.member_bytes(v)
    big = max(sizes2, key=sizes2.get)
    v2 = st.compact_small(spark, target_bytes=sizes2[big])
    if v2 != v:  # only if >=2 members sat under the threshold
        assert big in st.manifest(v2)["members"]
        assert big not in st.manifest(v2)["rewrote"]


def test_compact_small_noop_below_min_members(spark, sf_dir, tmp_path):
    st, orders = _sprawl_store(spark, sf_dir, tmp_path, n=2)
    v0 = st.compact_small(spark, target_bytes=1 << 31)  # bins both
    assert len(st.manifest(v0)["members"]) == 1
    # one member left -> nothing to bin, version log untouched
    assert st.compact_small(spark, target_bytes=1 << 31) == v0


def test_compact_small_materializes_dvs_of_rewritten_members(
    spark, sf_dir, tmp_path
):
    st, orders = _sprawl_store(spark, sf_dir, tmp_path)
    st.delete_where(spark, F.col("o_orderpriority") == "5-LOW")
    want = st.read(spark).count()
    v = st.compact_small(spark, target_bytes=1 << 31)
    doc = st.manifest(v)
    # the rewrite applied and dropped the rewritten members' DVs
    assert not doc.get("deletes")
    assert st.read(spark).count() == want
    assert (
        st.read(spark).where(F.col("o_orderpriority") == "5-LOW").count()
        == 0
    )


def test_compact_small_loses_race_cleanly(spark, sf_dir, tmp_path):
    from big_data_assignment2_2025_spark.sources.snapshots import (
        SnapshotConflictError,
    )

    st, orders = _sprawl_store(spark, sf_dir, tmp_path)
    prev = st.latest_version()
    # simulate a racing writer landing prev+1 first
    racer = SnapshotStore(str(tmp_path))
    racer.commit(orders.limit(3), mode="append")
    # our compact_small computed against prev must refuse, not corrupt
    doc = st.manifest(prev)

    class Pinned(SnapshotStore):
        def latest_version(self):
            return prev

        def manifest(self, version):
            return doc if version == prev else super().manifest(version)

    pinned = Pinned(str(tmp_path))
    with pytest.raises(SnapshotConflictError, match="lost the race"):
        pinned.compact_small(spark, target_bytes=1 << 31)
    # the real store is untouched beyond the racer's append
    assert st.read(spark).count() == orders.count() + 3


def test_compact_small_graduates_under_partition_spec(
    spark, sf_dir, tmp_path
):
    """r13 ADVICE regression: under a partition spec, bins are formed
    PER PARTITION ENTRY so each bin writes exactly one member and the
    [target/2, target] graduation bound holds — a mixed-partition bin
    used to fan back out into per-leaf small members that were
    re-rewritten on every later run (write amplification unbounded)."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(10), mode="overwrite")
    st.set_partition_spec([("o_orderpriority", "identity")])
    # trickle: several small partitioned appends -> many tiny members
    for i in range(4):
        st.commit(
            orders.where(F.col("o_orderkey") % 4 == i).limit(200),
            mode="append",
        )
    want = st.read(spark).count()
    v1 = st.compact_small(spark, target_bytes=1 << 31)
    doc1 = st.manifest(v1)
    assert doc1["mode"] == "compact_small"
    # every bin produced exactly ONE member (per partition), so output
    # member count == number of distinct partitions among rewrote's
    # binnable groups; crucially outputs are not smaller than inputs
    assert len(doc1["added"]) < len(doc1["rewrote"])
    assert st.read(spark).count() == want
    # a second run must NOT re-rewrite the first run's outputs: with the
    # same target every graduated member stays untouched (idempotence)
    v2 = st.compact_small(spark, target_bytes=1 << 31)
    if v2 != v1:  # a residual group may legally compact once more
        doc2 = st.manifest(v2)
        assert not set(doc2["rewrote"]) & set(doc1["added"]), (
            "re-rewrote members produced by the previous compact_small"
        )
        v3 = st.compact_small(spark, target_bytes=1 << 31)
        assert v3 == v2, "compact_small did not converge"
