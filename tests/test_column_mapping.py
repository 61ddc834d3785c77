"""Column mapping on the snapshot store (Delta ``columnMapping.mode=
name`` re-expressed): ``rename_column`` / ``drop_column`` are
METADATA-ONLY — physical (in-file) names never change; the manifest's
logical->physical map redirects scans and writes. Cross-engine gate:
``storage_column_mapping`` in plans/snapshot_queries.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def test_rename_is_metadata_only_and_time_travels(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(50), mode="overwrite", stats_cols=["o_orderkey"])
    before = st.manifest(1)["members"]
    v = st.rename_column("o_totalprice", "price_usd")
    doc = st.manifest(v)
    # no data written, member list identical, mapping pins the physical
    assert doc["members"] == before and doc["added"] == []
    assert st.column_mapping() == {"price_usd": "o_totalprice"}
    got = st.read(spark)
    assert "price_usd" in got.columns and "o_totalprice" not in got.columns
    want = orders.limit(50).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).first()[0]
    assert (
        got.agg(
            F.sum(F.round(F.col("price_usd") * 100).cast("long"))
        ).first()[0]
        == want
    )
    # time travel to the pre-rename version shows the OLD name
    assert "o_totalprice" in st.read(spark, 1).columns
    # post-rename appends land under the stable physical name and read back
    st.commit(
        orders.limit(5).withColumnRenamed("o_totalprice", "price_usd"),
        mode="append",
    )
    assert st.read(spark).where(F.col("price_usd").isNull()).count() == 0


def test_rename_refusals(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    st.commit(_orders(spark, sf_dir).limit(20), mode="overwrite")
    st.add_constraint(spark, "nonneg", "o_totalprice >= 0")
    with pytest.raises(ValueError, match="references"):
        st.rename_column("o_totalprice", "price")
    with pytest.raises(ValueError, match="already exists"):
        st.rename_column("o_orderkey", "o_orderpriority")
    with pytest.raises(ValueError, match="does not exist"):
        st.rename_column("nope", "x")
    st.drop_constraint("nonneg")
    assert st.rename_column("o_totalprice", "price") > 0


def test_drop_column_and_no_resurrection(spark, sf_dir, tmp_path):
    """Dropped column invisible at new versions, visible under time
    travel; re-adding the same logical name NEVER resurrects the dead
    bytes (fresh physical name)."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(30), mode="overwrite")
    v = st.drop_column("o_orderpriority")
    assert "o_orderpriority" not in st.read(spark).columns
    assert "o_orderpriority" in st.read(spark, v - 1).columns
    assert st.manifest(v)["retired_physical"] == ["o_orderpriority"]
    # re-add: the OLD members still physically carry the column's bytes,
    # but the fresh physical name means they read as NULL
    st.add_column("o_orderpriority", "string")
    got = st.read(spark)
    assert got.where(F.col("o_orderpriority").isNotNull()).count() == 0
    assert st.column_mapping()["o_orderpriority"].startswith(
        "o_orderpriority__"
    )
    # and a new batch's values round-trip through the mapped physical
    st.commit(
        orders.limit(3).select(
            "o_orderkey", "o_totalprice",
            F.lit("X").alias("o_orderpriority"),
        ),
        mode="append",
    )
    assert st.read(spark).where(
        F.col("o_orderpriority") == "X"
    ).count() == 3


def test_drop_refusals(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    st.commit(_orders(spark, sf_dir).limit(20), mode="overwrite")
    st.set_partition_spec([("o_orderpriority", "identity")])
    with pytest.raises(ValueError, match="partition spec"):
        st.drop_column("o_orderpriority")
    st.add_constraint(spark, "nonneg", "o_totalprice >= 0")
    with pytest.raises(ValueError, match="constraint"):
        st.drop_column("o_totalprice")


def test_mapping_survives_rewrites_and_stats_prune(spark, sf_dir, tmp_path):
    """Compaction/merge interplay: rewrites write PHYSICAL names, stats
    stay keyed logical, read_where pruning works on the renamed name,
    and the format-API Arrow read agrees with the native one."""
    from big_data_assignment2_2025_spark.sources.snapshot_source import (
        SnapshotStreamDataSource,
    )

    spark.dataSource.register(SnapshotStreamDataSource)
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    for i in range(3):
        st.commit(
            orders.where(F.col("o_orderkey") % 3 == i),
            mode="append" if i else "overwrite",
            stats_cols=["o_orderkey"],
        )
    st.rename_column("o_orderkey", "order_id")
    # stats keys followed the rename; pruning works under the new name
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    planned = st.planned_members_point(spark, "order_id", lo)
    assert 0 < len(planned) < len(st.manifest(st.latest_version())["members"])
    st.delete_where(spark, F.col("order_id") % 7 == 0)
    st.compact(spark)
    native = {tuple(r) for r in st.read(spark).collect()}
    fmt = {
        tuple(r)
        for r in spark.read.format("snapshotstream")
        .option("path", str(tmp_path))
        .load()
        .collect()
    }
    assert fmt == native and len(native) > 0
    want = {
        tuple(r)
        for r in orders.where(F.col("o_orderkey") % 7 != 0).collect()
    }
    assert native == want
    # post-compact the new member is physical under the original name,
    # the mapping still redirects (compact wrote physical names)
    assert st.column_mapping() == {"order_id": "o_orderkey"}


def test_rename_partition_source_keeps_pruning(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(10), mode="overwrite")
    st.set_partition_spec([("o_orderpriority", "identity")])
    st.commit(orders.limit(400), mode="overwrite")
    st.rename_column("o_orderpriority", "prio")
    # spec source followed the rename; new commits still partition and
    # point reads prune on the NEW logical name
    st.commit(
        orders.limit(50).withColumnRenamed("o_orderpriority", "prio"),
        mode="append",
    )
    doc = st.manifest(st.latest_version())
    assert all(
        f["source"] == "prio"
        for e in doc["partitions"].values()
        for f in e["fields"]
    )
    planned = st.planned_members_point(spark, "prio", "1-URGENT")
    assert 0 < len(planned) < len(doc["members"])
    got = st.read_point(spark, "prio", "1-URGENT").count()
    want = (
        orders.limit(400).unionAll(orders.limit(50))
        .where(F.col("o_orderpriority") == "1-URGENT").count()
    )
    assert got == want
