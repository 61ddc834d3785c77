"""RESTORE and shallow CLONE on the snapshot store (Delta ``RESTORE
TABLE ... TO VERSION`` / ``CREATE TABLE ... SHALLOW CLONE``
re-expressed): both metadata-only — a restore is one more manifest
naming the old state, a clone is a v1 manifest referencing the source's
directories by absolute path. Cross-engine gates: ``storage_restore``,
``storage_clone_shallow`` in plans/snapshot_queries.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def test_restore_rolls_back_state_keeping_history(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(30), mode="overwrite", stats_cols=["o_orderkey"])
    want = {tuple(r) for r in st.read(spark).collect()}
    st.commit(orders.limit(10), mode="append")
    st.delete_where(spark, F.col("o_orderkey") % 2 == 0)
    v_bad = st.latest_version()
    v_r = st.restore(1)
    assert v_r == v_bad + 1
    doc = st.manifest(v_r)
    assert doc["mode"] == "restore" and doc["restore_of"] == 1
    assert doc["added"] == []  # metadata-only: nothing written
    assert {tuple(r) for r in st.read(spark).collect()} == want
    # history intact: the bad versions still time-travel
    assert st.read(spark, v_bad).count() < len(want) + 10
    # restoring the current state is a no-op
    assert st.restore(v_r) == v_r
    # stats survive: pruned reads still plan fewer members after appends
    st.commit(orders.limit(5), mode="append")
    assert st.read(spark).count() == len(want) + 5


def test_restore_keeps_txns_and_identity_watermark(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(10), mode="overwrite")
    st.add_identity_column(spark, "row_id", start=1, step=1)
    v2 = st.latest_version()
    wm2 = st.identity_columns()["row_id"]["watermark"]
    st.commit(orders.limit(20), mode="append", txn=("app", 7))
    wm3 = st.identity_columns()["row_id"]["watermark"]
    assert wm3 > wm2
    v_r = st.restore(v2)
    # the id space never rewinds and writer idempotence survives
    assert st.identity_columns()["row_id"]["watermark"] == wm3
    assert st.last_txn("app") == 7
    # new rows after the restore get ids ABOVE everything ever assigned
    st.commit(orders.limit(5), mode="append")
    got = st.read(spark)
    assert got.select("row_id").distinct().count() == got.count()
    assert got.agg(F.max("row_id")).first()[0] > wm3 or got.count() == 10
    assert st.manifest(v_r)["restore_of"] == v2


def test_restore_refuses_vacuumed_members(spark, sf_dir, tmp_path):
    import shutil

    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(10), mode="overwrite")
    st.commit(orders.limit(5), mode="overwrite")  # v1's member unreachable
    # a vacuumed VERSION is gone manifest-first: restore can't even name it
    st.vacuum(keep_versions=[2])
    with pytest.raises(FileNotFoundError):
        st.restore(1)
    # a retained manifest whose member was externally deleted (cross-store
    # cleanup, a broken shallow-clone source) refuses with the loud message
    st.commit(orders.limit(3), mode="overwrite")
    dead = st.manifest(2)["members"][0]
    shutil.rmtree(os.path.join(str(tmp_path), dead))
    with pytest.raises(ValueError, match="vacuumed"):
        st.restore(2)


def test_shallow_clone_zero_copy_and_divergence(spark, sf_dir, tmp_path):
    src = SnapshotStore(str(tmp_path / "src"))
    orders = _orders(spark, sf_dir)
    src.commit(orders.limit(40), mode="overwrite", stats_cols=["o_orderkey"])
    src.add_column("rc", "int", default=7)
    src.delete_where(spark, F.col("o_orderkey") % 5 == 0)
    want = {tuple(r) for r in src.read(spark).collect()}
    clone = src.clone_to(str(tmp_path / "dst"))
    doc = clone.manifest(1)
    assert doc["mode"] == "clone"
    assert doc["cloned_from"]["version"] == src.latest_version()
    # zero bytes copied: the clone's own data dir is empty
    assert os.listdir(os.path.join(str(tmp_path / "dst"), "data")) == []
    # reads serve the source's live rows (DVs + defaults applied)
    assert {tuple(r) for r in clone.read(spark).collect()} == want
    # the clone diverges independently; the source is untouched
    clone.commit(
        orders.limit(3).withColumn("rc", F.lit(1)), mode="append"
    )
    assert clone.read(spark).count() == len(want) + 3
    assert {tuple(r) for r in src.read(spark).collect()} == want
    # compacting the clone LOCALIZES it: no member references the source
    clone.compact(spark)
    src_base = os.path.abspath(str(tmp_path / "src"))
    assert all(
        not m.startswith(src_base)
        for m in clone.manifest(clone.latest_version())["members"]
    )
    # fresh writer domain, carried constraints-family metadata
    assert clone.manifest(1)["txns"] == {}
    assert clone.column_mapping(1) == src.column_mapping()
    # cloning onto an existing store refuses
    with pytest.raises(ValueError, match="already holds"):
        src.clone_to(str(tmp_path / "dst"))


def test_clone_vacuum_safety(spark, sf_dir, tmp_path):
    """The clone's vacuum must never delete source files (only entries
    under its own data root are candidates)."""
    src = SnapshotStore(str(tmp_path / "src"))
    orders = _orders(spark, sf_dir)
    src.commit(orders.limit(10), mode="overwrite")
    clone = src.clone_to(str(tmp_path / "dst"))
    clone.commit(orders.limit(2), mode="append")
    removed = clone.vacuum()
    assert removed == []  # everything reachable; nothing foreign touched
    assert src.read(spark).count() == 10
    assert clone.read(spark).count() == 12
